package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.functions.VectorFunctions
import graft.operators._

/** Registry slice: events / time series / sessions / streaming. */
private[graft] trait QueriesEvents extends QueriesOracleHelpers {

  /** The batch session rule in DuckDB, as CTEs ending in `s`: one
    * row per session (user_id, session_start_ms, n_events, span_ms).
    * It works at the distinct-(user, ms) grain: a session boundary can
    * only fall BETWEEN distinct timestamps (equal-ms rows always share
    * a session), and deduping first makes every window total-ordered
    * — order-insensitive even if the fixture carries fully duplicated
    * rows, where a per-row two-pass window could order a tie group
    * differently in each pass and split it across sessions (the
    * engine's single-sort window plan cannot).
    */
  private def sessionSegmentsSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |d AS (SELECT user_id, ms, count(*) AS n FROM e GROUP BY 1, 2),
      |f AS (SELECT user_id, ms, n,
      |  CASE WHEN lag(ms, 1) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
      |         OR ms - lag(ms, 1) OVER (PARTITION BY user_id ORDER BY ms) > 1800000
      |       THEN 1 ELSE 0 END AS new_session
      |FROM d),
      |g AS (SELECT user_id, ms, n,
      |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ms
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |FROM f),
      |s AS (SELECT user_id, min(ms) AS session_start_ms,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  max(ms) - min(ms) AS span_ms
      |FROM g GROUP BY user_id, session_id)""".stripMargin

  /** [[sessionSegmentsSql]] at session grain, in (user, start) order. */
  private def sessionRecordsSql: String =
    sessionSegmentsSql +
      "\nSELECT user_id, session_start_ms, n_events, span_ms FROM s ORDER BY 1, 2"

  protected lazy val eventsRegistry: Seq[(String, QueryDef)] = Seq(

    // ----- events ------------------------------------------------------
    // date-spine resample: the complete (type, day) grid zero-filled
    // — a plain groupBy DROPS empty days and corrupts moving
    // averages; the rollup localCheckpoints (model-sized) so the
    // fact table is scanned once across its three references
    "events_daily_gapfill" -> QueryDef(
      (s, d) => EventsOps.dailyGapfill(Tables.events(s, d)),
      Some("""WITH daily AS (SELECT event_type, date_trunc('day', ts)::DATE AS day,
             |    count(*) AS n, round(sum(value), 4) AS sum_value
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
             |spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
             |    AS day FROM b),
             |types AS (SELECT DISTINCT event_type FROM daily)
             |SELECT t.event_type, strftime(s.day, '%Y-%m-%d') AS day,
             |  coalesce(n, 0) AS n, coalesce(sum_value, 0.0) AS sum_value
             |FROM spine s CROSS JOIN types t
             |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
             |ORDER BY t.event_type, s.day""".stripMargin)),

    // one-pass multi-DISTINCT: Expand + two-level aggregate, never a
    // per-DISTINCT corpus re-scan (plan-pinned)
    "events_multi_distinct" -> QueryDef(
      (s, d) => EventsOps.multiDistinct(Tables.events(s, d)),
      Some("""SELECT event_type,
             |  count(DISTINCT user_id) AS n_users,
             |  count(DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d')) AS n_days,
             |  count(*) AS n_events
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    "events_hourly" -> QueryDef(
      (s, d) => EventsOps.hourly(Tables.events(s, d)),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
             |  count(*) AS n, round(sum(value), 4) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // the session rule aggregated to user grain (sessionSegmentsSql)
    "events_sessionize" -> QueryDef(
      (s, d) => EventsOps.sessionize(Tables.events(s, d)),
      Some(sessionSegmentsSql +
        """
          |SELECT user_id, count(*) AS n_sessions,
          |  round(avg(n_events), 4) AS avg_events_per_session,
          |  CAST(max(span_ms) AS BIGINT) AS max_span_ms
          |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // session-grain records (user-grain sessionize one level up)
    "session_records" -> QueryDef(
      (s, d) => EventsOps.sessionRecords(Tables.events(s, d)),
      Some(sessionRecordsSql)),

    // the same session records through Spark's BUILT-IN session_window
    // merging aggregate (one user_id exchange) — pairs with the
    // lag+cumsum form the way the KMV window/UDAF pair does, sharing
    // one oracle
    "session_window_records" -> QueryDef(
      (s, d) => EventsOps.sessionRecordsViaSessionWindow(Tables.events(s, d)),
      Some(sessionRecordsSql)),

    "events_json" -> QueryDef(
      (s, d) => EventsOps.jsonProps(Tables.events(s, d)),
      Some("""SELECT event_type, count(*) AS n,
             |  round(avg(CAST(regexp_extract(props, '"k"\s*:\s*([0-9]+)', 1) AS BIGINT)), 4) AS avg_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    "events_asof_join" -> QueryDef(
      (s, d) => EventsOps.asofPurchaseClick(Tables.events(s, d)),
      Some("""WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
             |f AS (SELECT event_id, user_id, event_type, ms,
             |  LAST_VALUE(CASE WHEN event_type = 'click' THEN ms END IGNORE NULLS) OVER (
             |    PARTITION BY user_id ORDER BY ms, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ms
             |FROM e)
             |SELECT event_id, user_id, ms AS purchase_ms, last_click_ms, ms - last_click_ms AS gap_ms
             |FROM f WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    "events_cube" -> QueryDef(
      (s, d) => EventsOps.cubeDaily(Tables.events(s, d)),
      Some("""WITH e AS (SELECT event_type, strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day, value FROM events)
             |SELECT coalesce(event_type, 'ALL') AS event_type, coalesce(day, 'ALL') AS day,
             |  count(*) AS n, round(sum(value), 4) AS sum_value
             |FROM e GROUP BY CUBE(event_type, day) ORDER BY event_type, day""".stripMargin)),

    // explicit grouping sets (the general form cube/rollup sugar over)
    "events_grouping_sets" -> QueryDef(
      (s, d) => EventsOps.groupingSetsDaily(Tables.events(s, d)),
      Some("""WITH e AS (SELECT event_type, strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day, value FROM events)
             |SELECT coalesce(event_type, 'ALL') AS event_type, coalesce(day, 'ALL') AS day,
             |  count(*) AS n, round(sum(value), 4) AS sum_value
             |FROM e GROUP BY GROUPING SETS ((event_type), (day), ())
             |ORDER BY event_type, day""".stripMargin)),

    // HLL++ sketch values are implementation-specific: rows-only check
    // 7-day moving average over the daily rollup — the window rides
    // the |types|x|days| aggregate, never the event stream
    "events_moving_avg" -> QueryDef(
      (s, d) => EventsOps.movingAvgDaily(Tables.events(s, d)),
      Some("""WITH daily AS (SELECT event_type,
             |    strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
             |    count(*) AS n, round(sum(value), 4) AS sum_value
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, day, n, sum_value,
             |  round(avg(sum_value) OVER (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
             |FROM daily ORDER BY event_type, day""".stripMargin)),

    // approximate distinct users, re-expressed over the DETERMINISTIC
    // KMV sketch (was HLL / rows-only): same estimator class, but
    // reproducible bit-for-bit, so it is hash-gated like every other
    // row. The HLL form stays as EventsOps.approxDistinctUsers,
    // error-bounded against the exact count in EventsSpec.
    "events_approx_users" -> QueryDef(
      (s, d) => EventsOps.kmvDistinctUsers(Tables.events(s, d)),
      Some("""WITH h AS (SELECT DISTINCT event_type,
             |    (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::DOUBLE AS h
             |  FROM events),
             |r AS (SELECT event_type, h,
             |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk
             |      FROM h),
             |t AS (SELECT event_type, max(h) AS theta, count(*) AS m
             |      FROM r WHERE rnk <= 64 GROUP BY event_type)
             |SELECT event_type,
             |  CAST(CASE WHEN m < 64 THEN m
             |       ELSE round(63.0 / (theta / 1152921504606846976.0)) END AS BIGINT) AS approx_users
             |FROM t ORDER BY event_type""".stripMargin)),

    // the deterministic sketch: KMV over md5 hashes — every bit
    // reproducible, so unlike HLL this sketch is hash-gated
    "events_kmv_sketch" -> QueryDef(
      (s, d) => EventsOps.kmvDistinctEvents(Tables.events(s, d)),
      Some("""WITH h AS (SELECT DISTINCT event_type,
             |    (('0x' || substr(md5(event_id::VARCHAR), 1, 15))::UBIGINT)::DOUBLE AS h
             |  FROM events),
             |r AS (SELECT event_type, h,
             |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk
             |      FROM h),
             |t AS (SELECT event_type, max(h) AS theta, count(*) AS m
             |      FROM r WHERE rnk <= 64 GROUP BY event_type)
             |SELECT event_type,
             |  CAST(CASE WHEN m < 64 THEN m
             |       ELSE round(63.0 / (theta / 1152921504606846976.0)) END AS BIGINT) AS est_events
             |FROM t ORDER BY event_type""".stripMargin)),

    // the SAME sketch through the custom TypedImperativeAggregate
    // (UDAF surface): one exchange instead of distinct + window; the
    // result is bit-identical, so the same hash-gate applies
    "events_kmv_udaf" -> QueryDef(
      (s, d) => EventsOps.kmvDistinctEventsAgg(Tables.events(s, d)),
      Some("""WITH h AS (SELECT DISTINCT event_type,
             |    (('0x' || substr(md5(event_id::VARCHAR), 1, 15))::UBIGINT)::DOUBLE AS h
             |  FROM events),
             |r AS (SELECT event_type, h,
             |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk
             |      FROM h),
             |t AS (SELECT event_type, max(h) AS theta, count(*) AS m
             |      FROM r WHERE rnk <= 64 GROUP BY event_type)
             |SELECT event_type,
             |  CAST(CASE WHEN m < 64 THEN m
             |       ELSE round(63.0 / (theta / 1152921504606846976.0)) END AS BIGINT) AS est_events
             |FROM t ORDER BY event_type""".stripMargin)),

    // z-score outliers: |event types|-row moment table broadcast,
    // scoring row-local, filter on the ROUNDED z both sides
    "events_zscore" -> QueryDef(
      (s, d) => EventsOps.zscoreOutliers(Tables.events(s, d)),
      Some(s"""WITH s AS (SELECT event_type, avg(value) AS mean_v, stddev_samp(value) AS sd_v
             |          FROM events GROUP BY event_type),
             |z AS (SELECT event_id, e.event_type, value,
             |        round((value - mean_v) / sd_v, 4) AS z
             |      FROM events e JOIN s USING (event_type))
             |SELECT event_id, event_type, round(value, 4) AS value, z
             |FROM z WHERE abs(z) > ${EventsOps.ZscoreThreshold} ORDER BY event_id""".stripMargin)),

    // first-order Markov transitions per user sequence: one user_id
    // window exchange + a |types|^2-bounded aggregate
    "user_transitions" -> QueryDef(
      (s, d) => EventsOps.userTransitions(Tables.events(s, d)),
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
             |t AS (SELECT event_type AS from_type,
             |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS to_type
             |      FROM e)
             |SELECT from_type, to_type, count(*) AS n FROM t WHERE to_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ordered conversion funnel: stage-k events must follow the
    // user's first stage-(k-1) conversion
    "event_funnel" -> QueryDef(
      (s, d) => EventsOps.funnel(Tables.events(s, d)),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
             |v AS (SELECT user_id, min(ms) AS v_ms FROM e WHERE event_type = 'view' GROUP BY user_id),
             |c AS (SELECT e.user_id, min(ms) AS c_ms FROM e JOIN v USING (user_id)
             |      WHERE event_type = 'click' AND ms >= v_ms GROUP BY e.user_id),
             |p AS (SELECT e.user_id, min(ms) AS p_ms FROM e JOIN c USING (user_id)
             |      WHERE event_type = 'purchase' AND ms >= c_ms GROUP BY e.user_id)
             |SELECT (SELECT count(*) FROM v) AS n_view,
             |       (SELECT count(*) FROM c) AS n_view_click,
             |       (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin)),

    // cohort = first active day; (user, day) deduped before any
    // counting so no count-distinct runs downstream
    "cohort_retention" -> QueryDef(
      (s, d) => EventsOps.cohortRetention(Tables.events(s, d)),
      Some("""WITH d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
             |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
             |SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS offset_days, count(*) AS n_users
             |FROM d JOIN f USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    "events_topusers" -> QueryDef(
      (s, d) => EventsOps.topUsers(Tables.events(s, d)),
      Some("""SELECT user_id, round(sum(value), 4) AS total_value, count(*) AS n_purchases
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY user_id ORDER BY total_value DESC, user_id LIMIT 10""".stripMargin)),

    "events_distinct_users" -> QueryDef(
      (s, d) => EventsOps.distinctUsersSalted(Tables.events(s, d)),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // the reference's coded-shuffle research metric, simulated with
    // the *intended* (bug-fixed) semantics in one Spark action: each
    // simulated encoder node zips, XORs and decodes its own partials,
    // and decoded_ok checks the result against an independent word
    // count. The rank-zip pairing (a maximum matching on the
    // per-encoder class path L1—R1—L2—R2, see CodedShuffleSim) makes
    // every counter a closed form over cross-engine md5 topology
    // hashes, so the row is fully hash-gated
    "coded_shuffle_sim" -> QueryDef(
      (s, d) => graft.plans.CodedShuffleSim.asDataFrame(Tables.documents(s, d)),
      Some(s"""WITH tok AS (SELECT source, unnest($toksSql) AS word FROM documents),
              |sw AS (SELECT source, word, count(*) AS cnt FROM tok GROUP BY source, word),
              |pw AS (SELECT CAST(('0x' || substr(md5(source),1,15))::UBIGINT % 4294967291 % 3 AS BIGINT) AS p,
              |         word FROM sw),
              |pt AS (SELECT p, word,
              |         CAST(('0x' || substr(md5(word),1,15))::UBIGINT % 4294967291 % 3 AS BIGINT) AS tgt,
              |         CASE WHEN ('0x' || substr(md5(word),1,15))::UBIGINT % 4294967291 % 2 = 0
              |              THEN p ELSE (p+1)%3 END AS enc
              |       FROM (SELECT p, word FROM pw GROUP BY p, word)),
              |cc AS (SELECT enc,
              |         count(*) FILTER (WHERE p=(enc+2)%3 AND tgt=enc)       AS l1,
              |         count(*) FILTER (WHERE p=(enc+2)%3 AND tgt=(enc+1)%3) AS l2,
              |         count(*) FILTER (WHERE p=enc       AND tgt=(enc+2)%3) AS r1,
              |         count(*) FILTER (WHERE p=enc       AND tgt=enc)       AS r2
              |       FROM pt GROUP BY enc),
              |x AS (SELECT enc, least(l2, r2) AS x22,
              |        least(l2 - least(l2, r2), r1) AS x21,
              |        least(l1, r1 - least(l2 - least(l2, r2), r1)) AS x11 FROM cc),
              |tot AS (SELECT coalesce(sum(x22 + x21 + x11), 0) AS encoded FROM x),
              |nv AS (SELECT count(*) AS naive FROM pt)
              |SELECT CAST(naive AS BIGINT) AS naive_packets,
              |       CAST(naive - encoded AS BIGINT) AS packets_sent,
              |       CAST(encoded AS BIGINT) AS encoded_packets,
              |       floor(CAST(naive - encoded AS DOUBLE) / naive * 10000 + 0.5) / 10000 AS load_ratio,
              |       TRUE AS decoded_ok
              |FROM nv, tot""".stripMargin)),
  )
}
