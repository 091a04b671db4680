package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.operators._

/** Registry slice: text analysis. */
private[graft] trait QueriesTextAnalysis extends QueriesOracleHelpers {

  protected lazy val textAnalysisRegistry: Seq[(String, QueryDef)] = Seq(

    // ----- text analysis ----------------------------------------------
    "token_stats" -> QueryDef(
      (s, d) => TextAnalysisOps.tokenStats(Tables.documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS ws FROM documents)
              |SELECT doc_id, len(ws) AS n_tokens,
              |  round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws), 4) AS avg_token_len,
              |  CAST(list_max(list_transform(ws, w -> length(w))) AS BIGINT) AS max_token_len
              |FROM t WHERE len(ws) > 0 ORDER BY doc_id""".stripMargin)),

    // unigram Shannon entropy, folded over SORTED distinct words so
    // both engines sum in the same order; +0 normalizes IEEE -0.0
    "token_entropy" -> QueryDef(
      (s, d) => TextAnalysisOps.tokenEntropy(Tables.documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS ws FROM documents),
              |t2 AS (SELECT doc_id, ws, list_sort(list_distinct(ws)) AS dw
              |       FROM t WHERE len(ws) > 0)
              |SELECT doc_id, len(ws)::BIGINT AS n_tokens,
              |  len(dw)::BIGINT AS n_distinct,
              |  round(-list_sum(list_transform(dw, w ->
              |    (len(list_filter(ws, x -> x = w))::DOUBLE / len(ws)) *
              |    ln(len(list_filter(ws, x -> x = w))::DOUBLE / len(ws)))), 4) + 0
              |    AS entropy
              |FROM t2 ORDER BY doc_id""".stripMargin)),

    // bloom-gated incremental dedup: the broadcast-sketch fast path;
    // bit positions from the shared CmsHash family, so every probe —
    // including any false positive — is oracle-reproduced exactly
    "bloom_dedup" -> QueryDef(
      (s, d) => DedupOps.bloomDedup(Tables.documents(s, d)),
      Some {
        val p = graft.functions.expressions.CmsHash.P
        val k = DedupOps.BloomK
        val m = DedupOps.BloomMBits
        val bucket = (h: String) =>
          s"(((2 * j + 1) * ($h % $p) + j * j + 7) % $p) % $m"
        s"""WITH h AS (SELECT doc_id,
           |    CAST(('0x' || substr(md5(lower(text)), 1, 15))::UBIGINT AS BIGINT) AS h
           |  FROM documents),
           |corpus AS (SELECT DISTINCT h FROM h WHERE doc_id % 2 = 0),
           |bits AS (SELECT DISTINCT ${bucket("h")} AS b
           |  FROM corpus, LATERAL unnest(generate_series(0, ${k - 1})) t(j)),
           |batch AS (SELECT doc_id, h FROM h WHERE doc_id % 2 = 1),
           |probes AS (SELECT doc_id, h, ${bucket("h")} AS b
           |  FROM batch, LATERAL unnest(generate_series(0, ${k - 1})) t(j)),
           |flags AS (SELECT p.doc_id,
           |    CAST(min(CASE WHEN bits.b IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           |      AS maybe_dup
           |  FROM probes p LEFT JOIN bits ON p.b = bits.b GROUP BY p.doc_id)
           |SELECT f.doc_id, f.maybe_dup,
           |  CAST(CASE WHEN c.h IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
           |FROM flags f JOIN batch b ON f.doc_id = b.doc_id
           |  LEFT JOIN corpus c ON b.h = c.h
           |ORDER BY f.doc_id""".stripMargin
      }),

    // one BPE training round: adjacent char-pair frequencies off the
    // word-frequency table (vocabulary-sized explode, never corpus-
    // sized), total-ordered top-K
    "bpe_merge_pairs" -> QueryDef(
      (s, d) => TextAnalysisOps.bpeMergePairs(Tables.documents(s, d)),
      Some(s"""WITH wf AS (SELECT word, count(*) AS wf
              |  FROM (SELECT unnest($toksSql) AS word FROM documents)
              |  GROUP BY word HAVING length(word) >= 2),
              |pairs AS (SELECT substr(word, i, 2) AS pair, wf
              |  FROM wf, LATERAL unnest(generate_series(1, length(word) - 1)) t(i))
              |SELECT pair, sum(wf)::BIGINT AS cnt FROM pairs
              |GROUP BY pair ORDER BY cnt DESC, pair
              |LIMIT ${TextAnalysisOps.BpeMergeTopK}""".stripMargin)),

    // multi-round BPE training: the merge-list loop, oracle unrolled
    // per round from the SAME round constant (ann_ivf_kmeans2
    // precedent) — argmax pair then left-to-right non-overlapping
    // delimited-string replace, both sides identical
    "bpe_train_merges" -> QueryDef(
      (s, d) => TextAnalysisOps.bpeTrainMerges(Tables.documents(s, d)),
      Some(bpeTrainOracle)),

    // train -> ENCODE round trip: the corpus tokenized by the trained
    // merge list, reported as the subword vocabulary census; the
    // oracle replays the unrolled rounds AND the final-symbol census,
    // so a merge list that doesn't reproduce under application reds
    "bpe_vocab" -> QueryDef(
      (s, d) => TextAnalysisOps.bpeVocab(Tables.documents(s, d)),
      Some(bpeVocabOracle)),

    // the per-document leg of the same encode: subword budget per doc
    // under the trained merges (docs with no encodable word keep a
    // zero row) — the token-count accounting a pipeline runs before
    // packing; oracle replays rounds + the per-doc join from scratch
    "bpe_encode_docs" -> QueryDef(
      (s, d) => TextAnalysisOps.bpeEncodeDocs(Tables.documents(s, d)),
      Some(bpeEncodeDocsOracle)),

    "token_count_bpe" -> QueryDef(
      (s, d) => TextAnalysisOps.tokenCountBpe(Tables.documents(s, d)),
      Some("""SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f]'))::BIGINT AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "quality_score" -> QueryDef(
      (s, d) => TextAnalysisOps.qualityScore(Tables.documents(s, d)),
      Some {
        val stops = TextAnalysisOps.EnStopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS ws FROM documents)
           |SELECT doc_id, len(ws) AS n_tokens,
           |  round(len(list_filter(ws, w -> w IN ($stops)))::DOUBLE / len(ws), 4) AS stopword_ratio,
           |  round(len(regexp_extract_all(lower(text), '[^a-z0-9 \t\n\r\f]'))::DOUBLE / length(text), 4) AS punct_ratio,
           |  round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws), 4) AS avg_word_len
           |FROM t WHERE len(ws) > 0 ORDER BY doc_id""".stripMargin
      }),

    // deterministic training-order shuffle: md5(seed+doc_id) order,
    // global rank via range partition + zipWithIndex — no
    // single-point sort; oracle is the independent row_number form
    "dataset_shuffle" -> QueryDef(
      (s, d) => PipelineOps.datasetShuffle(Tables.documents(s, d)),
      Some(s"""SELECT doc_id,
              |  CAST(row_number() OVER (ORDER BY
              |    md5('${PipelineOps.ShuffleSeed}' || doc_id::VARCHAR), doc_id)
              |    - 1 AS BIGINT) AS shuffle_rank
              |FROM documents ORDER BY shuffle_rank""".stripMargin)),

    // mixture reweighting: per-source sampling weights toward a
    // uniform target mix; totals ride the |sources|-row model table
    "source_mix_weights" -> QueryDef(
      (s, d) => PipelineOps.sourceMixWeights(Tables.documents(s, d)),
      Some("""WITH per_src AS (SELECT source, count(*) AS n_docs
             |  FROM documents GROUP BY source),
             |t AS (SELECT sum(n_docs) AS n_total, count(*) AS k_sources
             |  FROM per_src)
             |SELECT source, n_docs,
             |  floor(n_docs::DOUBLE / n_total * 1000000.0 + 0.5) / 1000000.0 AS actual_share,
             |  floor(1.0::DOUBLE / k_sources * 1000000.0 + 0.5) / 1000000.0 AS target_share,
             |  floor(n_total::DOUBLE / (k_sources * n_docs) * 1000000.0 + 0.5) / 1000000.0 AS mix_weight
             |FROM per_src CROSS JOIN t ORDER BY source""".stripMargin)),

    // deterministic curriculum interleave: stride schedule at rates
    // proportional to sqrt(n_src) (alpha=0.5 temperature); vtime is
    // sqrt + exact x2 + one IEEE int-ratio divide, bit-identical on
    // both engines, so the schedule ORDER can never diverge
    "mixture_schedule" -> QueryDef(
      (s, d) => PipelineOps.mixtureSchedule(Tables.documents(s, d)),
      Some("""WITH c AS (SELECT source, count(*) AS n_src
             |  FROM documents GROUP BY source),
             |r AS (SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank
             |  FROM documents)
             |SELECT doc_id, r.source, src_rank,
             |  (2 * src_rank - 1)::DOUBLE / (2.0 * sqrt(n_src::DOUBLE)) AS vtime
             |FROM r JOIN c ON r.source = c.source
             |ORDER BY vtime, r.source, doc_id""".stripMargin)),

    // per-source (per-domain) quality cap: top-N docs per source by
    // stopword ratio — rank<=N rewrites to WindowGroupLimit so each
    // map task pre-prunes before the source shuffle (plan-pinned)
    "source_cap" -> QueryDef(
      (s, d) => PipelineOps.sourceCap(Tables.documents(s, d)),
      Some {
        val stops = TextAnalysisOps.EnStopwords.map(w => s"'$w'").mkString(", ")
        val q = TextAnalysisOps.det4Sql(
          s"len(list_filter(ws, w -> w IN ($stops)))::DOUBLE / len(ws)")
        s"""WITH t AS (SELECT doc_id, source, $toksSql AS ws FROM documents),
           |sc AS (SELECT doc_id, source,
           |    $q AS quality
           |  FROM t WHERE len(ws) > 0),
           |r AS (SELECT *, row_number() OVER (PARTITION BY source
           |        ORDER BY quality DESC, doc_id) AS rnk FROM sc)
           |SELECT doc_id, source, quality, CAST(rnk AS BIGINT) AS rnk
           |FROM r WHERE rnk <= ${PipelineOps.SourceCapN}
           |ORDER BY source, rnk""".stripMargin
      }),

    // fixed-weight logistic quality classifier: 4-decimal features
    // recovered into DECIMAL(10,4) exactly, dot product in EXACT
    // decimal arithmetic, logit cast to double only at the end — no
    // libm, no double round() of the logit (both failed a gate by
    // 1 ULP / one .00005 tie before this form)
    "quality_logreg" -> QueryDef(
      (s, d) => PipelineOps.qualityLogreg(Tables.documents(s, d)),
      Some {
        val stops = TextAnalysisOps.EnStopwords.map(w => s"'$w'").mkString(", ")
        import PipelineOps._
        def w(x: Double) = s"CAST($x AS DECIMAL(6,2))"
        def f4(e: String) = s"CAST(${TextAnalysisOps.det4Sql(e)} AS DECIMAL(10,4))"
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS ws FROM documents),
           |f AS (SELECT doc_id,
           |    CAST(length(bin(len(ws)))::DOUBLE AS DECIMAL(10,4)) AS flog,
           |    ${f4(s"len(list_filter(ws, w -> w IN ($stops)))::DOUBLE / len(ws)")} AS fstop,
           |    ${f4("len(regexp_extract_all(lower(text), '[^a-z0-9 \t\n\r\f]'))::DOUBLE / length(text)")} AS fpunct,
           |    ${f4("list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws)")} AS flen
           |  FROM t WHERE len(ws) > 0),
           |z AS (SELECT doc_id, CAST(
           |    ${w(LogregBias)} + ${w(LogregWLogTokens)} * flog +
           |    ${w(LogregWStopword)} * fstop + ${w(LogregWPunct)} * fpunct +
           |    ${w(LogregWAvgLen)} * flen AS DOUBLE) AS quality_logit
           |  FROM f)
           |SELECT doc_id, quality_logit,
           |  CAST(quality_logit > 0.0 AS BIGINT) AS keep
           |FROM z ORDER BY doc_id""".stripMargin
      }),

    // PII injected deterministically from doc_id on both sides (the
    // fixture corpus has no digits, so scrubbing raw text would be
    // vacuous); the hash gate proves redaction of every injected span
    // AND byte-identity of the untouched 90%
    "pii_scrub" -> QueryDef(
      (s, d) => TextAnalysisOps.piiScrub(Tables.documents(s, d)),
      Some(s"""WITH raw AS (SELECT doc_id,
              |  CASE WHEN doc_id % 10 = 0
              |       THEN text || ' contact user' || doc_id::VARCHAR || '@example.com' ||
              |            ' or call 555-123-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              |       ELSE text END AS raw FROM documents)
              |SELECT doc_id,
              |  regexp_replace(regexp_replace(raw, '${TextAnalysisOps.PiiEmailRe}', '<EMAIL>', 'g'),
              |                 '${TextAnalysisOps.PiiPhoneRe}', '<PHONE>', 'g') AS scrubbed,
              |  len(regexp_extract_all(raw, '${TextAnalysisOps.PiiEmailRe}'))::BIGINT AS n_email,
              |  len(regexp_extract_all(raw, '${TextAnalysisOps.PiiPhoneRe}'))::BIGINT AS n_phone
              |FROM raw ORDER BY doc_id""".stripMargin)),

    "lang_id" -> QueryDef(
      (s, d) => TextAnalysisOps.langId(Tables.documents(s, d)),
      Some {
        val langs = TextAnalysisOps.StopwordsByLang.map(_._1)
        val hitCols = TextAnalysisOps.StopwordsByLang.map { case (l, stops) =>
          val in = stops.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(ws, w -> w IN ($in))) AS hits_$l"
        }.mkString(",\n  ")
        val cases = langs.init.map { l =>
          val conds = langs.filterNot(_ == l).map(o => s"hits_$l >= hits_$o").mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }.mkString("\n  ")
        s"""WITH t AS (SELECT doc_id, lang AS labeled_lang, $toksSql AS ws FROM documents),
           |h AS (SELECT doc_id, labeled_lang,
           |  $hitCols
           |FROM t)
           |SELECT doc_id, labeled_lang,
           |  CASE $cases ELSE '${langs.last}' END AS pred_lang
           |FROM h ORDER BY doc_id""".stripMargin
      }),

    "doc_fingerprint" -> QueryDef(
      (s, d) => TextAnalysisOps.docFingerprint(Tables.documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, text, $toksSql AS ws FROM documents)
              |SELECT doc_id, md5(text) AS fp_md5,
              |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(ws, w -> CAST(7*length(w) + ascii(w) AS BIGINT))), (h, c) -> (31*h + c) % 1000000007) AS BIGINT) AS fp_roll
              |FROM t ORDER BY doc_id""".stripMargin)),

    // Gopher/C4-style repetition rule: duplicate n-gram fraction,
    // fully row-local
    "repetition_score" -> QueryDef(
      (s, d) => TextAnalysisOps.repetitionScore(Tables.documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS ws FROM documents),
              |g AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - ${TextAnalysisOps.RepetitionNgramN - 1}),
              |        i -> array_to_string(ws[i:i+${TextAnalysisOps.RepetitionNgramN - 1}], ' ')) AS gs FROM t)
              |SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_ngrams,
              |  CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
              |  round(1 - len(list_distinct(gs))::DOUBLE / len(gs), 4) AS dup_frac
              |FROM g WHERE len(gs) > 0 ORDER BY doc_id""".stripMargin)),

    // Gopher quality-rule gate (Rae et al. 2021): per-rule flag
    // columns + the conjunction, thresholds shared from the same
    // constants; det4 ratios so no boundary doc can flip engines
    "gopher_rules" -> QueryDef(
      (s, d) => TextAnalysisOps.gopherRules(Tables.documents(s, d)),
      Some {
        import TextAnalysisOps._
        val stops = EnStopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS ws FROM documents),
           |f AS (SELECT doc_id,
           |    len(ws)::BIGINT AS n_tokens,
           |    ${det4Sql("list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws)")} AS mean_word_len,
           |    ${det4Sql("len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(ws)")} AS alpha_ratio,
           |    len(list_intersect(list_distinct(ws), [$stops]))::BIGINT AS stop_hits
           |  FROM t WHERE len(ws) > 0),
           |g AS (SELECT *,
           |    CAST(n_tokens >= $GopherMinWords AND n_tokens <= $GopherMaxWords AS BIGINT) AS wc_ok,
           |    CAST(mean_word_len >= $GopherMinMeanLen AND mean_word_len <= $GopherMaxMeanLen AS BIGINT) AS mwl_ok,
           |    CAST(alpha_ratio >= $GopherMinAlphaRatio AS BIGINT) AS alpha_ok,
           |    CAST(stop_hits >= $GopherMinStopHits AS BIGINT) AS stop_ok
           |  FROM f)
           |SELECT doc_id, n_tokens, mean_word_len, alpha_ratio, stop_hits,
           |  wc_ok, mwl_ok, alpha_ok, stop_ok,
           |  CAST(wc_ok = 1 AND mwl_ok = 1 AND alpha_ok = 1 AND stop_ok = 1 AS BIGINT) AS passes
           |FROM g ORDER BY doc_id""".stripMargin
      }),

    // winnowing (MOSS): per-window minima over k-gram hashes; the
    // oracle reproduces the identical hash + window arithmetic from
    // the shared TextAnalysisOps.Winnow* constants
    "winnow_fingerprint" -> QueryDef(
      (s, d) => TextAnalysisOps.winnowFingerprint(Tables.documents(s, d)),
      Some(s"""$winnowFpCte
              |SELECT doc_id, fp FROM f ORDER BY doc_id, fp""".stripMargin)),

    // localized-overlap pairing on shared winnow fingerprints, with
    // the boilerplate cap mirrored from the same constant
    "winnow_overlap" -> QueryDef(
      (s, d) => TextAnalysisOps.winnowOverlap(Tables.documents(s, d)),
      Some(s"""$winnowFpCte,
              |bounded AS (SELECT doc_id, fp FROM (
              |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS nd FROM f)
              |  WHERE nd <= ${TextAnalysisOps.WinnowMaxDocFreq})
              |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
              |FROM bounded a JOIN bounded b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(*) >= ${TextAnalysisOps.WinnowMinShared}
              |ORDER BY a_id, b_id""".stripMargin)),

    "ngram_freq" -> QueryDef(
      (s, d) => TextAnalysisOps.ngramFreq(Tables.documents(s, d)),
      Some(s"""WITH t AS (SELECT $toksSql AS ws FROM documents),
              |n AS (SELECT array_to_string(ws[i:i+1], ' ') AS ngram
              |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g)
              |SELECT ngram, count(*) AS cnt FROM n
              |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 30""".stripMargin)),

    // PMI collocations: over-represented word pairs from exact
    // corpus counts — vocabulary-grain joins only, min-count cut
    // before the joins, identical IEEE ln() sequence in both engines
    "pmi_collocations" -> QueryDef(
      (s, d) => TextAnalysisOps.pmiCollocations(Tables.documents(s, d)),
      Some {
        import TextAnalysisOps.{PmiMinCount, PmiTopK}
        s"""WITH t AS (SELECT $toksSql AS ws FROM documents),
           |toks AS (SELECT unnest(ws) AS word FROM t),
           |uni AS (SELECT word, count(*) AS c FROM toks GROUP BY word),
           |bgs AS (SELECT array_to_string(ws[i:i+1], ' ') AS bigram
           |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g),
           |big AS (SELECT bigram, count(*) AS cb FROM bgs GROUP BY bigram
           |        HAVING count(*) >= $PmiMinCount),
           |tot AS (SELECT sum(len(ws))::DOUBLE AS total_tokens,
           |               sum(greatest(len(ws) - 1, 0))::DOUBLE AS total_bigrams FROM t),
           |j AS (SELECT bigram, cb, string_split(bigram, ' ')[1] AS w1,
           |             string_split(bigram, ' ')[2] AS w2 FROM big),
           |sc AS (SELECT bigram, cb,
           |         ln(cb::DOUBLE * total_tokens * total_tokens /
           |            (total_bigrams * u1.c * u2.c)) AS pmi_raw
           |       FROM j JOIN uni u1 ON j.w1 = u1.word
           |              JOIN uni u2 ON j.w2 = u2.word CROSS JOIN tot),
           |r AS (SELECT bigram, cb, pmi_raw,
           |        row_number() OVER (ORDER BY round(pmi_raw, 6) DESC, bigram) AS rnk FROM sc)
           |SELECT CAST(rnk AS BIGINT) AS rnk, bigram, cb, round(pmi_raw, 4) + 0 AS pmi
           |FROM r WHERE rnk <= $PmiTopK ORDER BY rnk""".stripMargin
      }),

    // bigram LM: P(w2|w1) with the head total and the rank as windows
    // over the one bigram aggregate (no self-join, no re-tokenize)
    "bigram_lm" -> QueryDef(
      (s, d) => TextAnalysisOps.bigramLm(Tables.documents(s, d)),
      Some(s"""WITH t AS (SELECT $toksSql AS ws FROM documents),
              |n AS (SELECT array_to_string(ws[i:i+1], ' ') AS bigram
              |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g),
              |bg AS (SELECT bigram, count(*) AS cnt FROM n GROUP BY bigram),
              |h AS (SELECT bigram, cnt, string_split(bigram, ' ')[1] AS w1 FROM bg),
              |r AS (SELECT w1, bigram, cnt,
              |        CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS head_total,
              |        row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, bigram) AS rnk
              |      FROM h)
              |SELECT w1, CAST(rnk AS BIGINT) AS rnk, bigram, cnt,
              |  round(cnt::DOUBLE / head_total, 4) AS p
              |FROM r WHERE rnk <= 3 AND head_total >= 10
              |ORDER BY w1, rnk""".stripMargin)),

    "tfidf_topk" -> QueryDef(
      (s, d) => TextAnalysisOps.tfidfTopK(Tables.documents(s, d)),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
              |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
              |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
              |n AS (SELECT count(*) AS n FROM documents),
              |s AS (SELECT doc_id, word, tf,
              |        round(tf * ln(n.n::DOUBLE / df.df), 4) AS score,
              |        row_number() OVER (PARTITION BY doc_id
              |          ORDER BY round(tf * ln(n.n::DOUBLE / df.df), 6) DESC, word) AS rnk
              |      FROM tf JOIN df USING (word) CROSS JOIN n)
              |SELECT doc_id, rnk, word, tf, score FROM s WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // Okapi BM25 against the deterministic mid-frequency query
    // (collection-frequency ranks 6-10): tf/dl/df are the
    // tfidf-family one-pass aggregates, the query is selected
    // in-plan by a distributed top-k over the SAME tf exchange the
    // postings use (AQE ReusedExchange — the corpus is tokenized
    // once), and the result cut is orderBy+limit.
    // The oracle mirrors the scoring expression token-for-token so
    // both engines run the identical IEEE operation sequence
    "bm25_topk" -> QueryDef(
      (s, d) => RetrievalOps.bm25TopK(Tables.documents(s, d)),
      Some(bm25Sql)),

    // the STEADY-STATE retrieval path: the same BM25 ranking served
    // from the persisted postings index — query planning reads the
    // vocab-sized lexicon, the probe scans only its terms' bucket
    // partitions (PartitionFilters, pinned in PlanAuditSpec), and no
    // tokenize pass or corpus aggregate runs at query time. Same
    // oracle as bm25_topk: the stored statistics are the same
    // one-pass aggregates, so the results must be identical
    "bm25_indexed" -> QueryDef(
      (s, d) => RetrievalOps.bm25Indexed(Tables.documents(s, d), d),
      Some(bm25Sql)),

    // the MAINTAINED index: built from the even-doc half, the odd
    // half folded in (postings append, lexicon delta merge, exact
    // long stats advance). Gated against the same full-corpus
    // oracle, so the gate proves fold == rebuild through the probe
    "incremental_bm25" -> QueryDef(
      (s, d) => RetrievalOps.incrementalBm25(Tables.documents(s, d), d),
      Some(bm25Sql)),

    // the DELETE leg: probes subtract the tombstone log, so a
    // deleted doc can never be returned, while scores keep the
    // index-wide STALE statistics until compaction (the deferred-
    // delete posture of every production engine) — the oracle keeps
    // full-corpus df/avgdl and ranks live docs only
    "bm25_after_delete" -> QueryDef(
      (s, d) => RetrievalOps.bm25AfterDelete(Tables.documents(s, d), d),
      Some(bm25SqlRanking(
        s"WHERE doc_id % ${RetrievalOps.DeleteMod} <> ${RetrievalOps.DeleteRes}"))),

    // the STREAM-MAINTAINED index: the odd half arrives as a real
    // checkpointed micro-batch stream (two source files -> at least
    // two folds), each batch folding into the persisted postings
    // inside foreachBatch. Probing the result against the full-
    // corpus oracle proves per-micro-batch folds compose to exactly
    // the batch rebuild, whatever the micro-batch boundaries
    "streamed_bm25_fold" -> QueryDef(
      (s, d) => {
        val dir = graft.streaming.EventStreams.streamedPostingsLayout(s, d)
        RetrievalOps.probePostings(s, s"$dir/index", 10)
      },
      Some(bm25Sql)),

    // the STEADY-STATE hybrid: the lexical leg served from the
    // persisted postings index (no query-time tokenize, |terms|
    // bucket partitions read), fused with the exact vector leg by
    // the same K-row RRF. Same oracle as hybrid_rrf — the indexed
    // lexical scores must be identical to the inline ones
    "hybrid_rrf_indexed" -> QueryDef(
      (s, d) => RetrievalOps.hybridRrfIndexed(Tables.documents(s, d), Tables.embeddings(s, d), d),
      Some(hybridRrfSql)),

    // hybrid retrieval: reciprocal-rank fusion of the BM25 leg and a
    // cosine leg against the designated probe vector (vec_id 0).
    // Each leg is a 50-row top-k cut; fusion is a full outer join of
    // the two K-row lists with a fixed two-term RRF expression (so
    // the float sum order is deterministic on both engines)
    "hybrid_rrf" -> QueryDef(
      (s, d) => RetrievalOps.hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d)),
      Some(hybridRrfSql)),
  )
}
