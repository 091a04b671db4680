package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, RelationalOps}

/** End-to-end proof of the SQL surface: a representative slice of the
  * registry — one per operator family, including every graft native
  * function and both custom aggregates — re-expressed as `spark.sql`
  * over [[Catalog.registerViews]], asserted row-for-row equal to the
  * DataFrame registry entry. The reference had no SQL layer at all
  * (SURVEY §2.2); this pins that ours exposes the same semantics, not
  * just the same function names.
  */
class SqlParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def assertParity(name: String, sql: String): Unit = {
    Catalog.registerViews(spark, TestSpark.Sf0001)
    val df = SparkEntry.queries(name)(spark, TestSpark.Sf0001)
    val viaSql = spark.sql(sql)
    assert(viaSql.columns.toSeq === df.columns.toSeq,
      s"$name: SQL column names must match the DataFrame entry")
    val a = df.collect().map(_.toString).sorted
    val b = viaSql.collect().map(_.toString).sorted
    assert(a.nonEmpty, s"$name: empty result proves nothing")
    assert(a === b, s"$name: SQL rows diverge from the DataFrame entry")
  }

  test("wordcount via SQL (tokenize family)") {
    assertParity("wordcount",
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT explode(graft_tokenize(text)) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin)
  }

  test("q1_pricing via SQL (aggregation family, decimal-exact sums)") {
    assertParity("q1_pricing",
      """SELECT l_returnflag, l_linestatus,
        |  cast(round(sum(cast(l_quantity AS decimal(12,2))), 2) AS double) AS sum_qty,
        |  cast(round(sum(cast(l_extendedprice AS decimal(15,2))), 2) AS double) AS sum_base_price,
        |  cast(round(sum(cast(l_extendedprice AS decimal(15,2)) *
        |    (cast(1 AS decimal(3,2)) - cast(l_discount AS decimal(4,2)))), 2) AS double) AS sum_disc_price,
        |  cast(round(sum(cast(l_extendedprice AS decimal(15,2)) *
        |    (cast(1 AS decimal(3,2)) - cast(l_discount AS decimal(4,2))) *
        |    (cast(1 AS decimal(3,2)) + cast(l_tax AS decimal(4,2)))), 2) AS double) AS sum_charge,
        |  round(cast(sum(cast(l_quantity AS decimal(12,2))) AS double) / count(*), 4) AS avg_qty,
        |  round(cast(sum(cast(l_extendedprice AS decimal(15,2))) AS double) / count(*), 4) AS avg_price,
        |  round(cast(sum(cast(l_discount AS decimal(4,2))) AS double) / count(*), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= timestamp'1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  test("q5_region via SQL (multi-join family, decimal-exact revenue)") {
    assertParity("q5_region",
      s"""SELECT n_name, ${RelationalOps.RevenueExactSql} AS revenue,
         |  count(*) AS n_lineitems
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= timestamp'1996-01-01'
         |  AND o_orderdate < timestamp'1998-01-01'
         |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  test("orders_window via SQL (window family)") {
    assertParity("orders_window",
      """SELECT o_custkey, rn, o_orderkey, o_totalprice, prev_price FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn,
        |    lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS prev_price
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)
  }

  test("lineitem_rollup via SQL (rollup family)") {
    assertParity("lineitem_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)
  }

  test("events_cube via SQL (cube family)") {
    assertParity("events_cube",
      """WITH e AS (SELECT event_type,
        |  date_format(date_trunc('day', timestamp_millis(ts div 1000000)), 'yyyy-MM-dd') AS day,
        |  value FROM events)
        |SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(day, 'ALL') AS day,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM e GROUP BY CUBE(event_type, day)
        |ORDER BY event_type, day""".stripMargin)
  }

  test("events_sessionize via SQL (sessionization family)") {
    assertParity("events_sessionize",
      """WITH base AS (SELECT user_id, event_id, ts div 1000000 AS ms FROM events),
        |f AS (SELECT user_id, event_id, ms,
        |    CASE WHEN lag(ms, 1) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) IS NULL
        |           OR ms - lag(ms, 1) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) > 1800000
        |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS new_session
        |  FROM base),
        |g AS (SELECT user_id, ms,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f),
        |s AS (SELECT user_id, session_id, count(*) AS n_events,
        |        max(ms) - min(ms) AS span_ms
        |      FROM g GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions,
        |  round(avg(n_events), 4) AS avg_events_per_session,
        |  max(span_ms) AS max_span_ms
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  test("exact_dedup via SQL (dedup family)") {
    assertParity("exact_dedup",
      """SELECT keep_id, n_copies, fp FROM (
        |  SELECT md5(lower(text)) AS fp, min(doc_id) AS keep_id,
        |         count(*) AS n_copies
        |  FROM documents GROUP BY md5(lower(text)))
        |ORDER BY keep_id""".stripMargin)
  }

  test("dataset_split via SQL (pipeline family)") {
    assertParity("dataset_split",
      """SELECT lang, split, count(*) AS n_docs, sum(n_chars) AS total_chars FROM (
        |  SELECT lang, n_chars,
        |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT lang, n_chars,
        |          pmod(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT), 100L) AS b
        |        FROM documents))
        |GROUP BY lang, split ORDER BY lang, split""".stripMargin)
  }

  test("doc_fingerprint via SQL (graft_rolling_fp)") {
    assertParity("doc_fingerprint",
      """SELECT doc_id, md5(text) AS fp_md5,
        |  graft_rolling_fp(graft_tokenize(text)) AS fp_roll
        |FROM documents ORDER BY doc_id""".stripMargin)
  }

  test("simhash_fingerprint via SQL (graft_simhash)") {
    assertParity("simhash_fingerprint",
      """SELECT doc_id, graft_simhash(ws, 20) AS simhash FROM (
        |  SELECT doc_id, graft_tokenize(text) AS ws FROM documents)
        |WHERE size(ws) > 0 ORDER BY doc_id""".stripMargin)
  }

  test("similarity_topk via SQL (graft_cosine + window top-k)") {
    assertParity("similarity_topk",
      """WITH p AS (SELECT vec_id AS probe_id, embedding AS probe_vec
        |           FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT probe_id, vec_id, graft_cosine(probe_vec, embedding) AS score
        |      FROM embeddings CROSS JOIN p WHERE vec_id <> probe_id),
        |r AS (SELECT probe_id, vec_id, score,
        |        CAST(row_number() OVER (PARTITION BY probe_id
        |          ORDER BY round(score, 6) DESC, vec_id ASC) AS BIGINT) AS rnk
        |      FROM s)
        |SELECT probe_id, rnk, vec_id, round(score, 4) AS score
        |FROM r WHERE rnk <= 10 ORDER BY probe_id, rnk""".stripMargin)
  }

  test("lineitem_hist_quantiles via SQL (graft_hist_quantile UDAF)") {
    val (lo, hi, bins) =
      (RelationalOps.HistQLo, RelationalOps.HistQHi, RelationalOps.HistQBins)
    assertParity("lineitem_hist_quantiles",
      s"""SELECT l_returnflag,
         |  round(graft_hist_quantile(l_extendedprice, $lo, $hi, $bins, 0.5), 4) AS p50,
         |  round(graft_hist_quantile(l_extendedprice, $lo, $hi, $bins, 0.9), 4) AS p90,
         |  round(graft_hist_quantile(l_extendedprice, $lo, $hi, $bins, 0.99), 4) AS p99
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  test("events_kmv_udaf via SQL (graft_kmv_est UDAF)") {
    assertParity("events_kmv_udaf",
      """SELECT event_type,
        |  graft_kmv_est(CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 15), 16, 10) AS DOUBLE), 64) AS est_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  test("set_ops via SQL (set-operation family)") {
    assertParity("set_ops",
      """SELECT custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY custkey""".stripMargin)
  }

  test("session_records via SQL (session-grain records)") {
    assertParity("session_records",
      """WITH base AS (SELECT user_id, event_id, ts div 1000000 AS ms FROM events),
        |f AS (SELECT user_id, event_id, ms,
        |    CASE WHEN lag(ms, 1) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) IS NULL
        |           OR ms - lag(ms, 1) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) > 1800000
        |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS new_session
        |  FROM base),
        |g AS (SELECT user_id, ms,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f)
        |SELECT user_id, min(ms) AS session_start_ms, count(*) AS n_events,
        |  max(ms) - min(ms) AS span_ms
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, session_start_ms""".stripMargin)
  }

  test("winnow_fingerprint via SQL (graft_word_ngrams in SQL)") {
    import graft.operators.TextAnalysisOps.{WinnowK, WinnowW}
    assertParity("winnow_fingerprint",
      s"""WITH h AS (SELECT doc_id,
         |    transform(graft_word_ngrams(graft_tokenize(text), $WinnowK),
         |      g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)) AS hs
         |  FROM documents)
         |SELECT doc_id, fp FROM (
         |  SELECT doc_id, explode(array_distinct(
         |      transform(sequence(1, size(hs) - ${WinnowW - 1}),
         |        i -> array_min(slice(hs, i, $WinnowW))))) AS fp
         |  FROM h WHERE size(hs) >= $WinnowW)
         |ORDER BY doc_id, fp""".stripMargin)
  }

  test("customer_rfm via SQL (decimal-banded segmentation)") {
    assertParity("customer_rfm",
      """WITH per AS (SELECT o_custkey,
        |    date_format(max(o_orderdate), 'yyyy-MM-dd') AS last_order,
        |    count(*) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(15,2))) AS monetary
        |  FROM orders GROUP BY o_custkey)
        |SELECT f_band, m_band, count(*) AS n_customers,
        |  max(last_order) AS latest_order
        |FROM (SELECT
        |    CASE WHEN frequency >= 20 THEN 'F3'
        |         WHEN frequency >= 10 THEN 'F2' ELSE 'F1' END AS f_band,
        |    CASE WHEN monetary >= 2000000 THEN 'M3'
        |         WHEN monetary >= 500000 THEN 'M2' ELSE 'M1' END AS m_band,
        |    last_order FROM per)
        |GROUP BY f_band, m_band ORDER BY f_band, m_band""".stripMargin)
  }

  test("orders_pricerank via SQL (distribution-rank windows)") {
    assertParity("orders_pricerank",
      """WITH r AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    o_orderkey, o_totalprice,
        |    round(percent_rank() OVER (PARTITION BY year(o_orderdate) ORDER BY o_totalprice ASC), 6) AS pr,
        |    round(cume_dist() OVER (PARTITION BY year(o_orderdate) ORDER BY o_totalprice ASC), 6) AS cd
        |  FROM orders)
        |SELECT yr, o_orderkey, o_totalprice, pr, cd
        |FROM r WHERE cd >= 0.99 ORDER BY yr, o_orderkey""".stripMargin)
  }

  test("orders_pricerank_banded via SQL (sampled P99 top band)") {
    assertParity("orders_pricerank_banded",
      s"""WITH base AS (SELECT o_orderkey, o_totalprice,
         |          CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders),
         |samp AS (SELECT yr, o_totalprice FROM base
         |      WHERE pmod(CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 15), 16, 10) AS BIGINT), 100L) < ${RelationalOps.NtileBandSamplePct}),
         |b AS (SELECT yr, round(percentile(o_totalprice, 0.99), 4) AS p99
         |      FROM samp GROUP BY yr)
         |SELECT base.yr AS yr, round(max(p99), 4) AS p99_threshold,
         |  count(*) AS n_top,
         |  round(min(o_totalprice), 2) AS min_price,
         |  round(max(o_totalprice), 2) AS max_price,
         |  round(avg(o_totalprice), 4) AS avg_price
         |FROM base LEFT JOIN b ON base.yr = b.yr
         |WHERE p99 IS NULL OR o_totalprice >= p99
         |GROUP BY base.yr ORDER BY yr""".stripMargin)
  }

  test("incremental_dedup via SQL (anti join as NOT EXISTS)") {
    assertParity("incremental_dedup",
      """WITH b AS (SELECT md5(lower(text)) AS fp, min(doc_id) AS keep_id,
        |         count(*) AS n_copies
        |       FROM documents WHERE doc_id % 2 = 1 GROUP BY fp)
        |SELECT keep_id, n_copies, fp FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id % 2 = 0
        |                    AND md5(lower(c.text)) = b.fp)
        |ORDER BY keep_id""".stripMargin)
  }

  test("events_moving_avg via SQL (frame window over the daily rollup)") {
    assertParity("events_moving_avg",
      """WITH daily AS (SELECT event_type,
        |    date_format(date_trunc('day', timestamp_millis(ts div 1000000)), 'yyyy-MM-dd') AS day,
        |    count(*) AS n, round(sum(value), 4) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n, sum_value,
        |  round(avg(sum_value) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
        |FROM daily ORDER BY event_type, day""".stripMargin)
  }

  test("cms_heavy_hitters via SQL (graft_cms + graft_cms_probe)") {
    import graft.operators.TextAnalysisOps.{CmsD, CmsTopK, CmsW}
    assertParity("cms_heavy_hitters",
      s"""WITH hashed AS (SELECT word,
         |    CAST(conv(substring(md5(word), 1, 15), 16, 10) AS BIGINT) AS x
         |  FROM (SELECT explode(graft_tokenize(text)) AS word FROM documents)),
         |sk AS (SELECT graft_cms(x, $CmsD, $CmsW) AS sk FROM hashed),
         |topk AS (SELECT word, count(*) AS cnt, max(x) AS x FROM hashed
         |         GROUP BY word ORDER BY cnt DESC, word LIMIT $CmsTopK)
         |SELECT word, cnt, graft_cms_probe(sk, x, $CmsD, $CmsW) AS est_cnt
         |FROM topk CROSS JOIN sk ORDER BY word""".stripMargin)
  }

  test("bigram_logprob via SQL (bigram-grain model + head window)") {
    assertParity("bigram_logprob",
      """WITH bf AS (SELECT doc_id, bg, count(*) AS bf FROM (
        |    SELECT doc_id, explode(graft_word_ngrams(graft_tokenize(text), 2)) AS bg
        |    FROM documents) GROUP BY doc_id, bg),
        |model AS (SELECT bg, cbg,
        |    sum(cbg) OVER (PARTITION BY substring_index(bg, ' ', 1)) AS ch
        |  FROM (SELECT bg, sum(bf) AS cbg FROM bf GROUP BY bg))
        |SELECT doc_id, sum(bf) AS n_bigrams,
        |  round(sum(CAST(bf AS DOUBLE) * ln(CAST(cbg AS DOUBLE) / CAST(ch AS DOUBLE))) /
        |    CAST(sum(bf) AS DOUBLE), 4) AS avg_logprob
        |FROM bf JOIN model USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  test("near_dedup_minhash via SQL (graft_minhash_sig through the extension point)") {
    // graft_minhash_sig is injected by GraftExtensions / the operator's
    // temp registration — prove the banded-LSH signature itself is
    // SQL-reachable by recomputing signatures and matching the engine's
    DedupOps.nearDupMinhash(Tables.documents(spark, TestSpark.Sf0001)).collect()
    Catalog.registerViews(spark, TestSpark.Sf0001)
    val viaSql = spark.sql(
      s"""SELECT doc_id,
         |  graft_minhash_sig(array_distinct(graft_word_ngrams(graft_tokenize(text), ${DedupOps.ShingleN}))) AS sig
         |FROM documents
         |WHERE size(array_distinct(graft_word_ngrams(graft_tokenize(text), ${DedupOps.ShingleN}))) > 0""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql.nonEmpty)
    assert(viaSql.values.forall(_.length === DedupOps.NumHashes))
  }

  test("doc_chunks via SQL (lateral posexplode + slice over graft_tokenize)") {
    import graft.operators.PipelineOps.{ChunkSize, ChunkStride}
    assertParity("doc_chunks",
      s"""WITH t AS (SELECT doc_id, graft_tokenize(text) AS ws FROM documents)
         |SELECT doc_id, cast(pos AS bigint) AS chunk_id,
         |  cast(size(slice(ws, start, $ChunkSize)) AS bigint) AS n_tokens,
         |  concat_ws(' ', slice(ws, start, $ChunkSize)) AS chunk_text
         |FROM t
         |LATERAL VIEW posexplode(sequence(1, size(ws), $ChunkStride)) x AS pos, start
         |WHERE size(ws) > 0
         |ORDER BY doc_id, chunk_id""".stripMargin)
  }

  test("pii_scrub via SQL (regex redaction family)") {
    // Spark SQL single-quoted literals process backslash escapes
    // (unlike DuckDB's), so the pattern's \. must be doubled or the
    // regex silently degrades to any-char and eats a following word
    val PiiEmailRe = graft.operators.TextAnalysisOps.PiiEmailRe.replace("\\", "\\\\")
    val PiiPhoneRe = graft.operators.TextAnalysisOps.PiiPhoneRe
    assertParity("pii_scrub",
      s"""WITH raw AS (SELECT doc_id,
         |  CASE WHEN doc_id % 10 = 0
         |       THEN concat(text, ' contact user', cast(doc_id AS string), '@example.com',
         |                   ' or call 555-123-', lpad(cast(doc_id % 10000 AS string), 4, '0'))
         |       ELSE text END AS raw FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(raw, '$PiiEmailRe', '<EMAIL>'),
         |                 '$PiiPhoneRe', '<PHONE>') AS scrubbed,
         |  cast(size(regexp_extract_all(raw, '$PiiEmailRe', 0)) AS bigint) AS n_email,
         |  cast(size(regexp_extract_all(raw, '$PiiPhoneRe', 0)) AS bigint) AS n_phone
         |FROM raw ORDER BY doc_id""".stripMargin)
  }

  test("q13_custdist via SQL (outer-join distribution family)") {
    assertParity("q13_custdist",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }

  test("q18_large_orders via SQL (HAVING-subquery join family)") {
    assertParity("q18_large_orders",
      """WITH big AS (SELECT l_orderkey,
        |    sum(cast(l_quantity AS decimal(12,2))) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(cast(l_quantity AS decimal(12,2))) > 210)
        |SELECT c_name, c_custkey, o_orderkey,
        |  date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
        |  o_totalprice, cast(total_qty AS double) AS total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
  }

  test("q12_priority_mix via SQL (conditional-aggregation join family)") {
    assertParity("q12_priority_mix",
      """SELECT l_linestatus,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |      THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |      THEN 0 ELSE 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= timestamp'1996-01-01'
        |  AND l_shipdate < timestamp'1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
  }

  test("q14_promo_share via SQL (conditional-ratio aggregate)") {
    assertParity("q14_promo_share",
      """SELECT round(100.0 *
        |  cast(sum(CASE WHEN p_type = 'PROMO'
        |    THEN cast(l_extendedprice AS decimal(15,2)) *
        |         (1 - cast(l_discount AS decimal(15,2)))
        |    ELSE cast(0 AS decimal(15,2)) END) AS double) /
        |  cast(sum(cast(l_extendedprice AS decimal(15,2)) *
        |         (1 - cast(l_discount AS decimal(15,2)))) AS double), 4)
        |  AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= timestamp'1997-03-01'
        |  AND l_shipdate < timestamp'1997-04-01'""".stripMargin)
  }

  test("q17_small_qty via SQL (CORRELATED scalar subquery, decorrelated by Catalyst)") {
    assertParity("q17_small_qty",
      """SELECT cast(round(sum(cast(l_extendedprice AS decimal(15,2))), 2)
        |  AS double) AS small_qty_revenue
        |FROM lineitem l JOIN part ON l.l_partkey = p_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND l.l_quantity < 0.5 * (
        |    SELECT cast(sum(cast(l2.l_quantity AS decimal(12,2))) AS double)
        |      / count(*)
        |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
  }

  test("q22_untapped semantics: threshold, lapsed cut, and grouping (inline data)") {
    // sf0.001 has no lapsed customers, so fixture parity would prove
    // nothing — drive the operator on a corpus where every branch of
    // the predicate matters instead
    import spark.implicits._
    val customer = Seq(
      (1L, "SEG_A", 100.0),   // above avg, lapsed     -> kept
      (2L, "SEG_A", 100.0),   // above avg, recent     -> cut by anti join
      (3L, "SEG_B", 10.0),    // below avg, lapsed     -> cut by threshold
      (4L, "SEG_B", 90.0),    // above avg, no orders  -> kept
      (5L, "SEG_B", -50.0))   // negative: excluded from avg, below it anyway
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    val orders = Seq(
      (10L, 1L, "1997-05-01"), // old order: cust 1 still lapsed
      (11L, 2L, "1998-03-01"), // recent: cust 2 not lapsed
      (12L, 3L, "1997-01-01"))
      .toDF("o_orderkey", "o_custkey", "d")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
    // avg positive balance = (100+100+10+90)/4 = 75
    val res = RelationalOps.q22Untapped(customer, orders).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(res.toSeq === Seq(("SEG_A", 1L, 100.0), ("SEG_B", 1L, 90.0)))
  }

  test("temperature_sample via SQL (window-min model + hash membership)") {
    assertParity("temperature_sample",
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |m AS (SELECT lang, n_lang, min(n_lang) OVER () AS n_min FROM c),
        |t AS (SELECT lang, n_lang,
        |        floor(1000000 * sqrt(cast(n_min AS double) /
        |          cast(n_lang AS double))) AS threshold
        |      FROM m),
        |kept AS (SELECT d.lang, t.n_lang, t.threshold FROM documents d
        |         JOIN t ON d.lang = t.lang
        |         WHERE pmod(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15),
        |                         16, 10) AS bigint), 1000000) < t.threshold)
        |SELECT lang, max(n_lang) AS n_total, count(*) AS n_kept,
        |  max(threshold) AS keep_per_million
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin)
  }

  test("token_entropy via SQL (graft_tokenize + lambda fold)") {
    assertParity("token_entropy",
      """WITH t AS (SELECT doc_id, graft_tokenize(text) AS ws FROM documents),
        |t2 AS (SELECT doc_id, ws, array_sort(array_distinct(ws)) AS dw
        |       FROM t WHERE size(ws) > 0)
        |SELECT doc_id, cast(size(ws) AS bigint) AS n_tokens,
        |  cast(size(dw) AS bigint) AS n_distinct,
        |  round(-aggregate(dw, cast(0.0 AS double), (acc, w) ->
        |    acc + (cast(size(filter(ws, x -> x = w)) AS double) /
        |           cast(size(ws) AS double)) *
        |          ln(cast(size(filter(ws, x -> x = w)) AS double) /
        |             cast(size(ws) AS double))), 4) + cast(0.0 AS double)
        |    AS entropy
        |FROM t2 ORDER BY doc_id""".stripMargin)
  }

  test("q19_disjunctive via SQL (OR-of-ANDs CNF pushdown family)") {
    assertParity("q19_disjunctive",
      s"""SELECT ${RelationalOps.RevenueExactSql} AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)
  }

  test("q15_top_supplier via SQL (global-max rank family)") {
    assertParity("q15_top_supplier",
      """WITH revenue AS (
        |  SELECT l_suppkey, sum(cast(l_extendedprice AS decimal(15,2)) *
        |    (cast(1 AS decimal(15,2)) - cast(l_discount AS decimal(15,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= timestamp'1996-01-01'
        |    AND l_shipdate < timestamp'1996-04-01'
        |  GROUP BY l_suppkey),
        |r AS (SELECT *, rank() OVER (ORDER BY total_rev DESC) AS rk FROM revenue)
        |SELECT s_suppkey, s_name, cast(total_rev AS double) AS total_rev
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rk = 1 ORDER BY s_suppkey""".stripMargin)
  }

  test("source_cap via SQL (per-domain window cap, graft_tokenize)") {
    import graft.operators.{PipelineOps, TextAnalysisOps}
    val stops = TextAnalysisOps.EnStopwords.map(w => s"'$w'").mkString(", ")
    assertParity("source_cap",
      s"""WITH t AS (SELECT doc_id, source, graft_tokenize(text) AS ws FROM documents),
         |sc AS (SELECT doc_id, source,
         |    floor((cast(size(filter(ws, w -> w IN ($stops))) AS double) /
         |           cast(size(ws) AS bigint)) * 1e4 + cast(0.5 AS double)) / 1e4
         |      AS quality
         |  FROM t WHERE size(ws) > 0),
         |r AS (SELECT *, cast(row_number() OVER (PARTITION BY source
         |        ORDER BY quality DESC, doc_id) AS bigint) AS rnk FROM sc)
         |SELECT doc_id, source, quality, rnk FROM r
         |WHERE rnk <= ${PipelineOps.SourceCapN} ORDER BY source, rnk""".stripMargin)
  }

  test("quality_logreg via SQL (fixed-weight classifier arithmetic)") {
    import graft.operators.{PipelineOps, TextAnalysisOps}
    import PipelineOps._
    val stops = TextAnalysisOps.EnStopwords.map(w => s"'$w'").mkString(", ")
    def w(x: Double) = s"cast($x AS decimal(6,2))"
    def f4(e: String) =
      s"cast(floor(($e) * 1e4 + cast(0.5 AS double)) / 1e4 AS decimal(10,4))"
    assertParity("quality_logreg",
      s"""WITH t AS (SELECT doc_id, text, graft_tokenize(text) AS ws FROM documents),
         |f AS (SELECT doc_id,
         |    cast(cast(length(bin(size(ws))) AS double) AS decimal(10,4)) AS flog,
         |    ${f4(s"cast(size(filter(ws, w -> w IN ($stops))) AS double) / cast(size(ws) AS bigint)")} AS fstop,
         |    ${f4("cast(size(regexp_extract_all(lower(text), '[^a-z0-9 \\\\t\\\\n\\\\r\\\\f]', 0)) AS double) / length(text)")} AS fpunct,
         |    ${f4("cast(aggregate(ws, 0L, (a, w) -> a + length(w)) AS double) / cast(size(ws) AS bigint)")} AS flen
         |  FROM t WHERE size(ws) > 0),
         |z AS (SELECT doc_id, cast(
         |    ${w(LogregBias)} + ${w(LogregWLogTokens)} * flog +
         |    ${w(LogregWStopword)} * fstop + ${w(LogregWPunct)} * fpunct +
         |    ${w(LogregWAvgLen)} * flen AS double) AS quality_logit
         |  FROM f)
         |SELECT doc_id, quality_logit, cast(quality_logit > 0.0 AS long) AS keep
         |FROM z ORDER BY doc_id""".stripMargin)
  }

  test("bloom_dedup via SQL (graft_bloom + graft_bloom_probe)") {
    val k = DedupOps.BloomK
    val m = DedupOps.BloomMBits
    assertParity("bloom_dedup",
      s"""WITH h AS (SELECT doc_id,
         |    CAST(conv(substring(md5(lower(text)), 1, 15), 16, 10) AS BIGINT) AS h
         |  FROM documents),
         |corpus AS (SELECT DISTINCT h FROM h WHERE pmod(doc_id, 2) = 0),
         |sk AS (SELECT graft_bloom(h, $k, $m) AS bf FROM corpus),
         |batch AS (SELECT doc_id, h FROM h WHERE pmod(doc_id, 2) = 1)
         |SELECT b.doc_id,
         |  CAST(graft_bloom_probe(bf, b.h, $k, $m) AS BIGINT) AS maybe_dup,
         |  CAST(CASE WHEN c.h IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
         |FROM batch b CROSS JOIN sk LEFT JOIN corpus c ON b.h = c.h
         |ORDER BY b.doc_id""".stripMargin)
  }

  test("bpe_merge_pairs via SQL (graft_tokenize + lateral pair explode)") {
    assertParity("bpe_merge_pairs",
      s"""WITH wf AS (SELECT word, count(*) AS wf
         |  FROM (SELECT explode(graft_tokenize(text)) AS word FROM documents)
         |  GROUP BY word HAVING length(word) >= 2),
         |pairs AS (SELECT substring(word, i, 2) AS pair, wf
         |  FROM wf LATERAL VIEW explode(sequence(1, length(word) - 1)) t AS i)
         |SELECT pair, sum(wf) AS cnt FROM pairs
         |GROUP BY pair ORDER BY cnt DESC, pair
         |LIMIT ${graft.operators.TextAnalysisOps.BpeMergeTopK}""".stripMargin)
  }

  test("q2_min_cost via SQL (derived partsupp + correlated min window)") {
    assertParity("q2_min_cost",
      """WITH ps AS (SELECT ps_partkey, ps_suppkey,
        |    cast(pmod(ps_partkey * 31 + ps_suppkey * 17, 10000) AS double) / 100.0 + 1.0
        |      AS ps_supplycost
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |        FROM lineitem)),
        |rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |offers AS (SELECT ps.*, p_partkey, p_brand, s_acctbal, s_name, n_name,
        |    min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
        |  FROM ps JOIN part ON ps_partkey = p_partkey
        |    JOIN rs ON ps_suppkey = s_suppkey
        |  WHERE p_size = 15)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
        |FROM offers WHERE ps_supplycost = min_cost
        |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100""".stripMargin)
  }

  test("q9_profit via SQL (synthetic-cost profit rollup)") {
    assertParity("q9_profit",
      """SELECT nation, o_year,
        |  cast(round(sum(amount), 2) AS double) AS sum_profit
        |FROM (SELECT n_name AS nation,
        |        cast(year(o_orderdate) AS bigint) AS o_year,
        |        cast(l_extendedprice AS decimal(15,2)) *
        |          (cast(1 AS decimal(15,2)) - cast(l_discount AS decimal(15,2))) -
        |        cast(p_retailprice AS decimal(15,2)) * cast(0.60 AS decimal(3,2)) *
        |          cast(l_quantity AS decimal(12,2)) AS amount
        |      FROM lineitem
        |        JOIN part ON l_partkey = p_partkey
        |        JOIN supplier ON l_suppkey = s_suppkey
        |        JOIN nation ON s_nationkey = n_nationkey
        |        JOIN orders ON l_orderkey = o_orderkey
        |      WHERE p_type = 'STANDARD') t
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin)
  }

  test("q16_supplier_cnt via SQL (distinct agg + NOT IN)") {
    assertParity("q16_supplier_cnt",
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 50""".stripMargin)
  }

  test("events_daily_gapfill via SQL (date-spine left join)") {
    assertParity("events_daily_gapfill",
      """WITH daily AS (SELECT event_type,
        |    to_date(date_trunc('day', timestamp_millis(ts div 1000000))) AS day,
        |    count(*) AS n, round(sum(value), 4) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT explode(sequence(d0, d1)) AS day FROM b),
        |types AS (SELECT DISTINCT event_type FROM daily)
        |SELECT t.event_type, date_format(s.day, 'yyyy-MM-dd') AS day,
        |  coalesce(n, 0L) AS n, coalesce(sum_value, cast(0.0 AS double)) AS sum_value
        |FROM spine s CROSS JOIN types t
        |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
        |ORDER BY t.event_type, s.day""".stripMargin)
  }

  test("bm25_topk via SQL (retrieval family, double-literal discipline)") {
    // the D suffixes matter: Spark SQL parses bare `1.2` as
    // DECIMAL(2,1) and the whole scoring expression silently flips
    // to decimal semantics, diverging from the DataFrame entry's
    // double math
    assertParity("bm25_topk",
      """WITH toks AS (SELECT doc_id, explode(graft_tokenize(text)) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
        |tfd AS (SELECT doc_id, word, tf, sum(tf) OVER (PARTITION BY doc_id) AS dl FROM tf),
        |ws AS (SELECT word, sum(tf) AS ctf, count(*) AS df FROM tf GROUP BY word),
        |q AS (SELECT word, df FROM (
        |        SELECT word, df, row_number() OVER (ORDER BY ctf DESC, word) AS qrank FROM ws)
        |      WHERE qrank > 5 AND qrank <= 10),
        |stats AS (SELECT cast(count(*) AS double) AS n_docs FROM documents),
        |avg AS (SELECT cast(sum(tf) AS double) / count(DISTINCT doc_id) AS avgdl FROM tf),
        |sc AS (SELECT t.doc_id,
        |        ln((n_docs - q.df + 0.5D) / (q.df + 0.5D) + 1.0D)
        |          * (t.tf * (1.2D + 1.0D))
        |          / (t.tf + 1.2D * (1.0D - 0.75D + 0.75D * t.dl / avgdl)) AS contrib
        |      FROM tfd t JOIN q USING (word) CROSS JOIN stats CROSS JOIN avg),
        |agg AS (SELECT doc_id, sum(contrib) AS score_raw, count(*) AS n_hits FROM sc GROUP BY doc_id),
        |r AS (SELECT doc_id, n_hits, score_raw,
        |        row_number() OVER (ORDER BY round(score_raw, 6) DESC, doc_id) AS rnk FROM agg)
        |SELECT doc_id, cast(rnk AS bigint) AS rnk, n_hits, round(score_raw, 4) AS score
        |FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin)
  }

  test("cdc_apply via SQL (the MERGE surface as a full-outer replay)") {
    // Spark's MERGE INTO needs a row-level-ops v2 table, which plain
    // parquet views can't provide — the MERGE-shaped SQL over views
    // is the latest-op-per-key window + full-outer merge, the exact
    // relational definition the operator implements.
    val off = RelationalOps.CdcSeqOffset
    assertParity("cdc_apply",
      s"""WITH snap AS (SELECT o_orderkey AS key, o_totalprice AS price
         |  FROM orders WHERE o_orderkey % 10 <> 7),
         |gen AS (SELECT o_orderkey AS k, o_totalprice AS p
         |  FROM orders WHERE o_orderkey % 10 = 7),
         |ops AS (
         |  SELECT 'D' AS op, k - 1 AS key, CAST(NULL AS DOUBLE) AS new_price, k AS seq
         |  FROM gen WHERE k % 3 = 0
         |  UNION ALL
         |  SELECT 'U', k - 1, round(p + 10.0, 2), k FROM gen WHERE k % 3 = 1
         |  UNION ALL
         |  SELECT 'I', k, p, k FROM gen WHERE k % 3 = 2
         |  UNION ALL
         |  SELECT 'U', k - 1, round(p + 20.0, 2), k + $off FROM gen WHERE k % 60 = 7),
         |latest AS (SELECT op, key, new_price FROM (
         |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
         |  FROM ops) WHERE rn = 1),
         |m AS (SELECT coalesce(s.key, l.key) AS o_orderkey,
         |    CASE WHEN l.key IS NOT NULL THEN l.new_price ELSE s.price END AS price,
         |    CASE WHEN l.key IS NOT NULL THEN 'cdc' ELSE 'snap' END AS src,
         |    l.op AS op
         |  FROM snap s FULL OUTER JOIN latest l ON s.key = l.key)
         |SELECT o_orderkey, price, src FROM m WHERE op IS NULL OR op <> 'D'
         |ORDER BY o_orderkey""".stripMargin)
  }

  test("part_skyline via SQL (NOT EXISTS dominance == the prefix-scan)") {
    // the declarative skyline definition — no row is <= on price and
    // >= on size with one strict — must equal the distributed
    // two-pass prefix-min construction row for row
    assertParity("part_skyline",
      """SELECT p.p_partkey, p.p_brand, p.p_retailprice,
        |  CAST(p.p_size AS BIGINT) AS p_size
        |FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p.p_retailprice, p.p_partkey""".stripMargin)
  }

  test("events_ewma via SQL (ordered-list fold == the recurrence)") {
    assertParity("events_ewma",
      """WITH daily AS (SELECT event_type,
        |    date_format(date_trunc('day', timestamp_millis(ts div 1000000)),
        |      'yyyy-MM-dd') AS day,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0
        |      AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, x,
        |    collect_list(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
        |  FROM daily)
        |SELECT event_type, day, round(x, 2) AS sum_value,
        |  round(aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1),
        |    (acc, v) -> acc * 0.75 + v * 0.25), 4) AS ewma
        |FROM l ORDER BY event_type, day""".stripMargin)
  }

  test("fuzzy_join_parts via SQL (blocked edit-distance linkage)") {
    assertParity("fuzzy_join_parts",
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |blocks AS (SELECT p_name, explode(array_distinct(array(
        |    'f:' || split_part(p_name, ' ', 1),
        |    'l:' || element_at(split(p_name, ' '), -1)))) AS blk FROM names),
        |cand AS (SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
        |  FROM blocks a JOIN blocks b USING (blk)
        |  WHERE a.p_name < b.p_name)
        |SELECT name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(name_a, name_b) <= 3
        |ORDER BY name_a, name_b""".stripMargin)
  }

  test("attribution_last_touch via SQL (conditional-last window)") {
    assertParity("attribution_last_touch",
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    ts div 1000000 AS ms FROM events),
        |w AS (SELECT *,
        |    last(CASE WHEN event_type = 'click' THEN event_id END) IGNORE NULLS
        |      OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_id,
        |    last(CASE WHEN event_type = 'click' THEN ms END) IGNORE NULLS
        |      OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_ms
        |  FROM e)
        |SELECT event_id AS purchase_id, user_id, value, click_id,
        |  ms - click_ms AS gap_ms,
        |  CASE WHEN click_id IS NOT NULL THEN 'click' ELSE 'organic' END AS src
        |FROM w WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin)
  }

  test("event_trigram_paths via SQL (lag x2 path mining)") {
    assertParity("event_trigram_paths",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    ts div 1000000 AS ms FROM events),
        |w AS (SELECT event_type AS t3,
        |    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS t1,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS t2
        |  FROM e)
        |SELECT t1, t2, t3, count(*) AS n FROM w WHERE t1 IS NOT NULL
        |GROUP BY t1, t2, t3 ORDER BY n DESC, t1, t2, t3""".stripMargin)
  }

  test("scd2_point_in_time via SQL (validity-interval lookup)") {
    val off = RelationalOps.Scd2InsertOffset
    assertParity("scd2_point_in_time",
      s"""WITH dim AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
         |batch AS (
         |  SELECT c_custkey, concat('SEG_', c_custkey % 5) AS u_seg,
         |         round(c_acctbal + 100.0, 2) AS u_bal
         |  FROM customer WHERE c_custkey % 7 = 3
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_custkey % 7 = 2
         |  UNION ALL
         |  SELECT c_custkey + $off, concat('SEG_', (c_custkey + $off) % 5), c_acctbal
         |  FROM customer WHERE c_custkey % 13 = 6),
         |j AS (SELECT coalesce(d.c_custkey, b.c_custkey) AS c_custkey,
         |        d.c_mktsegment, d.c_acctbal, b.u_seg, b.u_bal,
         |        (b.u_seg IS NOT NULL AND d.c_mktsegment IS NOT NULL AND
         |         (b.u_seg <> d.c_mktsegment OR b.u_bal <> d.c_acctbal)) AS changed
         |      FROM dim d FULL OUTER JOIN batch b ON d.c_custkey = b.c_custkey),
         |hist AS (
         |  SELECT c_custkey, c_mktsegment AS seg, 0L AS valid_from,
         |    CASE WHEN changed THEN 1L END AS valid_to
         |  FROM j WHERE c_mktsegment IS NOT NULL
         |  UNION ALL
         |  SELECT c_custkey, u_seg, 1L, CAST(NULL AS BIGINT) FROM j WHERE changed
         |  UNION ALL
         |  SELECT c_custkey, u_seg, 1L, CAST(NULL AS BIGINT) FROM j WHERE c_mktsegment IS NULL),
         |o AS (SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
         |        CAST(o_orderkey % 2 AS BIGINT) AS epoch FROM orders)
         |SELECT seg, epoch, count(*) AS n_orders,
         |  round(sum(o_totalprice), 2) AS sum_price
         |FROM o JOIN hist USING (c_custkey)
         |WHERE valid_from <= epoch AND (valid_to IS NULL OR valid_to > epoch)
         |GROUP BY seg, epoch ORDER BY seg, epoch""".stripMargin)
  }

  test("q13_custdist keeps zero-order customers (the outer-join point)") {
    import spark.implicits._
    val customer = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("c_custkey", "c_name")
    val orders = Seq((10L, 1L, "1-URGENT"), (11L, 1L, "3-MEDIUM"), (12L, 2L, "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val res = RelationalOps.q13Custdist(customer, orders).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cust 1: one non-urgent order; cust 2: one; cust 3: zero — and
    // cust 1's urgent order must not count
    assert(res === Map(1L -> 2L, 0L -> 1L))
  }
}
