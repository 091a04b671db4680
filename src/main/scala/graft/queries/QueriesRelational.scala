package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.functions.VectorFunctions
import graft.operators._

/** Registry slice: relational surface (TPC-H shapes, joins, windows, lakehouse). */
private[graft] trait QueriesRelational extends QueriesOracleHelpers {

  protected lazy val relationalRegistry: Seq[(String, QueryDef)] = Seq(

    // ----- relational (the surface the reference lacks, SURVEY §2.2) ---
    "q1_pricing" -> QueryDef(
      (s, d) => RelationalOps.q1Pricing(Tables.lineitem(s, d)),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
             |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS sum_base_price,
             |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
             |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
             |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
             |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) *
             |    (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
             |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
             |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) / count(*), 4) AS avg_price,
             |  round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    "q3_shipping" -> QueryDef(
      (s, d) => RelationalOps.q3Shipping(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      Some(s"""SELECT o_orderkey, o_orderdate, ${RelationalOps.RevenueExactSql} AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
             |  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
             |GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    "q5_region" -> QueryDef(
      (s, d) => RelationalOps.q5Region(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      Some(s"""SELECT n_name, ${RelationalOps.RevenueExactSql} AS revenue, count(*) AS n_lineitems
             |FROM region JOIN nation ON n_regionkey = r_regionkey
             |  JOIN customer ON c_nationkey = n_nationkey
             |  JOIN orders ON o_custkey = c_custkey
             |  JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // TPC-H Q10 shape: returned-item revenue per customer, filter
    // pushed to the lineitem scan, nation broadcast, top-20 heap
    "q10_returns" -> QueryDef(
      (s, d) => RelationalOps.q10Returns(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d)),
      Some(s"""SELECT c_custkey, c_name, n_name,
             |  ${RelationalOps.RevenueExactSql} AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    "orders_window" -> QueryDef(
      (s, d) => RelationalOps.ordersWindow(Tables.orders(s, d)),
      Some("""WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
             |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_price
             |FROM orders)
             |SELECT o_custkey, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice, prev_price
             |FROM r WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    "orders_ntile" -> QueryDef(
      (s, d) => RelationalOps.ordersNtile(Tables.orders(s, d)),
      Some("""WITH t AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_totalprice,
             |  CAST(ntile(4) OVER (PARTITION BY year(o_orderdate)
             |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
             |FROM orders)
             |SELECT yr, quartile, count(*) AS n_orders,
             |  round(min(o_totalprice), 2) AS min_price,
             |  round(max(o_totalprice), 2) AS max_price,
             |  round(avg(o_totalprice), 4) AS avg_price
             |FROM t GROUP BY yr, quartile ORDER BY yr, quartile""".stripMargin)),

    // scale-safe ntile companion: deterministic 5% hash-sample, exact
    // quartile bounds on the sample, broadcast bounds, row-local
    // banding — no per-year total sort (the exact-ntile 100 TB wall)
    "orders_ntile_banded" -> QueryDef(
      (s, d) => RelationalOps.ordersNtileBanded(Tables.orders(s, d)),
      Some(s"""WITH base AS (SELECT o_orderkey, o_totalprice,
             |          CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders),
             |s AS (SELECT yr, o_totalprice FROM base
             |      WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::UBIGINT % 100 < ${RelationalOps.NtileBandSamplePct}),
             |b AS (SELECT yr, round(quantile_cont(o_totalprice, 0.25), 4) AS b1,
             |             round(quantile_cont(o_totalprice, 0.50), 4) AS b2,
             |             round(quantile_cont(o_totalprice, 0.75), 4) AS b3
             |      FROM s GROUP BY yr),
             |t AS (SELECT base.yr, o_totalprice,
             |        CASE WHEN o_totalprice < b1 THEN 1
             |             WHEN o_totalprice < b2 THEN 2
             |             WHEN o_totalprice < b3 THEN 3 ELSE 4 END AS band
             |      FROM base LEFT JOIN b ON base.yr = b.yr)
             |SELECT yr, CAST(band AS BIGINT) AS band, count(*) AS n_orders,
             |  round(min(o_totalprice), 2) AS min_price,
             |  round(max(o_totalprice), 2) AS max_price,
             |  round(avg(o_totalprice), 4) AS avg_price
             |FROM t GROUP BY yr, band ORDER BY yr, band""".stripMargin)),

    // constant-width histogram: row-local bucketing, one bounded agg
    "price_histogram" -> QueryDef(
      (s, d) => RelationalOps.priceHistogram(Tables.orders(s, d)),
      Some(s"""SELECT CAST(least(floor(o_totalprice / ${RelationalOps.HistogramWidth}), ${RelationalOps.HistogramMaxBucket}) AS BIGINT) AS bucket,
             |  count(*) AS n_orders,
             |  round(min(o_totalprice), 2) AS min_price,
             |  round(max(o_totalprice), 2) AS max_price
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // one-pass co-moment aggregates (corr / covar / stddev) per flag
    "lineitem_stats" -> QueryDef(
      (s, d) => RelationalOps.lineitemStats(Tables.lineitem(s, d)),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
             |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
             |  round(stddev_samp(l_quantity), 4) AS stddev_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // histogram-sketch quantiles: constant-size mergeable buffer; the
    // oracle reproduces the identical bin + interpolation arithmetic
    // from the shared grid constants
    "lineitem_hist_quantiles" -> QueryDef(
      (s, d) => RelationalOps.lineitemHistQuantiles(Tables.lineitem(s, d)),
      Some {
        val lo = RelationalOps.HistQLo
        val hi = RelationalOps.HistQHi
        val bins = RelationalOps.HistQBins
        val w = (hi - lo) / bins
        s"""WITH b AS (SELECT l_returnflag,
           |    CASE WHEN l_extendedprice < $lo THEN 0
           |         WHEN l_extendedprice >= $hi THEN ${bins + 1}
           |         ELSE 1 + CAST(floor((l_extendedprice - $lo) / $w) AS INT) END AS bin,
           |    count(*) AS cnt
           |  FROM lineitem GROUP BY 1, 2),
           |c AS (SELECT l_returnflag, bin, cnt,
           |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
           |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
           |  FROM b),
           |pp AS (SELECT l_returnflag, unnest([0.5, 0.9, 0.99]) AS p
           |       FROM (SELECT DISTINCT l_returnflag FROM b)),
           |hit AS (SELECT pp.l_returnflag, pp.p, min(c.bin) AS bin
           |        FROM pp JOIN c ON pp.l_returnflag = c.l_returnflag AND c.cum >= pp.p * c.n
           |        GROUP BY 1, 2),
           |est AS (SELECT h.l_returnflag, h.p,
           |    CASE WHEN h.bin = 0 THEN $lo
           |         WHEN h.bin = ${bins + 1} THEN $hi
           |         ELSE $lo + CAST(h.bin - 1 AS DOUBLE) * $w
           |              + $w * ((h.p * c.n - (c.cum - c.cnt)) / c.cnt) END AS v
           |  FROM hit h JOIN c ON h.l_returnflag = c.l_returnflag AND h.bin = c.bin)
           |SELECT l_returnflag,
           |  round(max(CASE WHEN p = 0.5 THEN v END), 4) AS p50,
           |  round(max(CASE WHEN p = 0.9 THEN v END), 4) AS p90,
           |  round(max(CASE WHEN p = 0.99 THEN v END), 4) AS p99
           |FROM est GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      }),

    "lineitem_rollup" -> QueryDef(
      (s, d) => RelationalOps.lineitemRollup(Tables.lineitem(s, d)),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag, coalesce(l_linestatus, 'ALL') AS linestatus,
             |  count(*) AS n, CAST(round(sum(CAST(l_quantity AS DECIMAL(15,2))), 2) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin)),

    "set_ops" -> QueryDef(
      (s, d) => RelationalOps.setOps(Tables.customer(s, d), Tables.orders(s, d)),
      Some("""(SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             | INTERSECT SELECT o_custkey FROM orders)
             |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 400000
             |ORDER BY custkey""".stripMargin)),

    // bag semantics: multiplicities survive INTERSECT/EXCEPT ALL
    "set_ops_all" -> QueryDef(
      (s, d) => RelationalOps.setOpsAll(Tables.orders(s, d)),
      Some("""WITH b AS (
             |  (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
             |   INTERSECT ALL
             |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |  EXCEPT ALL
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
             |SELECT custkey, count(*) AS n FROM b
             |GROUP BY custkey ORDER BY custkey""".stripMargin)),

    "join_semi" -> QueryDef(
      (s, d) => RelationalOps.joinSemi(Tables.customer(s, d), Tables.orders(s, d)),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
             |ORDER BY c_custkey""".stripMargin)),

    "join_anti" -> QueryDef(
      (s, d) => RelationalOps.joinAnti(Tables.customer(s, d), Tables.orders(s, d)),
      Some("""SELECT c_custkey, c_acctbal FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    "join_left_outer" -> QueryDef(
      (s, d) => RelationalOps.custOrdersLeftOuter(Tables.customer(s, d), Tables.orders(s, d)),
      Some("""WITH po AS (SELECT o_custkey, count(*) AS n_orders, CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS total_spend
             |            FROM orders GROUP BY o_custkey)
             |SELECT c_custkey, c_mktsegment,
             |  coalesce(n_orders, 0) AS n_orders,
             |  coalesce(total_spend, 0.0) AS total_spend
             |FROM customer LEFT JOIN po ON c_custkey = o_custkey
             |ORDER BY c_custkey""".stripMargin)),

    "join_full_outer" -> QueryDef(
      (s, d) => RelationalOps.nationAccountsFullOuter(Tables.customer(s, d), Tables.supplier(s, d)),
      Some("""WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer GROUP BY 1),
             |     s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1)
             |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
             |  coalesce(n_customers, 0) AS n_customers,
             |  coalesce(n_suppliers, 0) AS n_suppliers
             |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
             |ORDER BY nationkey""".stripMargin)),

    // bucketed co-location under the correctness gate: both fact
    // tables are written bucketed+sorted by the order key, the join
    // reads bucket files pairwise with NO shuffle exchange (asserted
    // by BucketingSpec), and the aggregate runs on top — the way a
    // 100 TB fact-fact join is amortized across a query workload
    "bucketed_join_agg" -> QueryDef(
      (s, d) => graft.sources.Bucketing.bucketedJoinAgg(s, d),
      Some(s"""SELECT o_orderpriority,
             |  ${RelationalOps.RevenueExactSql} AS revenue,
             |  count(*) AS n_lines
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // date-partitioned layout + partition-pruned read: the day range
    // resolves against directory names at plan time (7 of 30
    // partitions opened — pinned by PlanAuditSpec); the oracle runs
    // the same range over the flat parquet, proving the partitioned
    // copy loses nothing
    "events_partition_pruned" -> QueryDef(
      (s, d) => graft.sources.Partitioning.eventsPartitionPruned(s, d),
      Some(s"""WITH e AS (SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
             |    event_type, value FROM events)
             |SELECT day, event_type, count(*) AS n,
             |  round(sum(value), 4) AS sum_value
             |FROM e
             |WHERE day >= '${graft.sources.Partitioning.PruneDayFrom}'
             |  AND day <= '${graft.sources.Partitioning.PruneDayTo}'
             |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin)),

    // the streaming path under the hash gate (round 10): day counts
    // read back from the write-once availableNow streamed partitioned
    // layout; the oracle computes from the ORIGINAL events table, so
    // a lost/duplicated micro-batch or a broken sink manifest reds
    // the row
    "streamed_day_counts" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions.{count, lit, round, sum}
        val dir = graft.streaming.EventStreams.streamedEventsLayout(s, d)
        val schema = Tables.events(s, d).schema
          .add("day", org.apache.spark.sql.types.StringType)
        s.read.schema(schema).parquet(dir)
          .groupBy("day")
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
          .orderBy("day")
      },
      Some("""WITH e AS (SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
             |    value FROM events)
             |SELECT day, count(*) AS n, round(sum(value), 4) AS sum_value
             |FROM e GROUP BY day ORDER BY day""".stripMargin)),

    // WATERMARK semantics under the hash gate: the layout was landed
    // by two checkpointed availableNow runs (on-time bulk, then a
    // straggler slice resuming from the same checkpoint), so append-
    // mode window finalization, late-row dropping at the CHECKPOINTED
    // watermark, and watermark persistence across restart are all
    // facts the oracle recomputes from the original events table —
    // see EventStreams.streamedWatermarkLayout for the exact function
    "streamed_watermark_counts" -> QueryDef(
      (s, d) => {
        val dir = graft.streaming.EventStreams.streamedWatermarkLayout(s, d)
        s.read.parquet(dir)
          .select("hour", "event_type", "n")
          .orderBy("hour", "event_type")
      },
      Some(s"""WITH e AS (SELECT event_id, epoch_ms(ts) AS ms, event_type FROM events),
             |wm1 AS (SELECT max(ms) - $wmDelayMs AS w FROM e WHERE event_id % 5 != 0),
             |wm2 AS (SELECT max(ms) - $wmDelayMs AS w FROM e),
             |contrib AS (
             |  SELECT ms, event_type FROM e WHERE event_id % 5 != 0
             |  UNION ALL
             |  SELECT ms, event_type FROM e
             |  WHERE event_id % 5 = 0
             |    AND ms - ms % 3600000 + 3600000 > (SELECT w FROM wm1)),
             |agg AS (SELECT ms - ms % 3600000 AS hs, event_type, count(*) AS n
             |        FROM contrib GROUP BY 1, 2)
             |SELECT make_timestamp(hs * 1000) AS hour, event_type, CAST(n AS BIGINT) AS n
             |FROM agg WHERE hs + 3600000 <= (SELECT w FROM wm2)
             |ORDER BY hour, event_type""".stripMargin)),

    // EXACTLY-ONCE dedup under the hash gate: the layout was landed
    // by a two-phase replay whose second phase deliberately RE-SENDS
    // already-delivered rows (at-least-once upstream) — a re-send can
    // only land if dedup state was lost across the restart, a
    // straggler only if the late filter failed; the oracle recomputes
    // the keep rule (phase-1 rows + on-time first deliveries) from
    // the original events table. StreamingDedupSpec pins the corner
    // where only the late filter stands between an expired-state
    // re-send and a double delivery.
    "streamed_dedup_events" -> QueryDef(
      (s, d) => {
        val dir = graft.streaming.EventStreams.streamedDedupLayout(s, d)
        s.read.parquet(dir)
          .select("event_id", "ms")
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT event_id, epoch_ms(ts) AS ms FROM events),
             |wm1 AS (SELECT max(ms) - $wmDelayMs AS w FROM e WHERE event_id % 5 != 0)
             |SELECT event_id, ms FROM e WHERE event_id % 5 != 0
             |UNION ALL
             |SELECT event_id, ms FROM e
             |WHERE event_id % 5 = 0 AND ms > (SELECT w FROM wm1)
             |ORDER BY event_id""".stripMargin)),

    // STREAM-STREAM JOIN under the hash gate: the watermarked
    // interval join replayed across a two-phase restart — the sink
    // is all predicate pairs minus those touching a late phase-2 row
    // (below WM1 = least of the two sides' column watermarks); a
    // pair lost across the restart or a late row that joined anyway
    // reds the hash
    "streamed_join_pairs" -> QueryDef(
      (s, d) => {
        val dir = graft.streaming.EventStreams.streamedJoinLayout(s, d)
        s.read.parquet(dir)
          .select("purchase_id", "user_id", "p_ms", "click_id", "c_ms")
          .orderBy("purchase_id", "click_id")
      },
      Some {
        import graft.streaming.EventStreams.{JoinIntervalMinutes, JoinWatermarkMs, JoinPurchaseMod}
        val intMs = JoinIntervalMinutes * 60000L
        s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
           |p AS (SELECT event_id AS purchase_id, user_id, ms FROM e
           |      WHERE event_type = 'purchase' AND event_id % $JoinPurchaseMod = 1),
           |c AS (SELECT event_id AS click_id, user_id, ms FROM e WHERE event_type = 'click'),
           |wm1 AS (SELECT least(
           |    (SELECT max(ms) FROM p WHERE purchase_id % 5 != 0),
           |    (SELECT max(ms) FROM c WHERE click_id % 5 != 0)) - $JoinWatermarkMs AS w)
           |SELECT p.purchase_id, p.user_id, p.ms AS p_ms, c.click_id, c.ms AS c_ms
           |FROM p JOIN c ON p.user_id = c.user_id
           |  AND c.ms BETWEEN p.ms - $intMs AND p.ms
           |WHERE NOT (p.purchase_id % 5 = 0 AND p.ms < (SELECT w FROM wm1))
           |  AND NOT (c.click_id % 5 = 0 AND c.ms < (SELECT w FROM wm1))
           |ORDER BY purchase_id, click_id""".stripMargin
      }),

    // LEFT-OUTER stream-stream join under the hash gate: matched
    // rows = the inner set; a null-padded row lands iff its admitted
    // purchase found no non-late click AND its match window closed
    // under the final watermark (p_ms < WM2) — state eviction as an
    // oracle-checkable fact. Open purchases (p_ms >= WM2) are absent
    "streamed_join_unmatched" -> QueryDef(
      (s, d) => {
        val dir = graft.streaming.EventStreams.streamedJoinLayout(s, d, "left_outer")
        s.read.parquet(dir)
          .select("purchase_id", "user_id", "p_ms", "click_id", "c_ms")
          .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
      },
      Some {
        import graft.streaming.EventStreams.{JoinIntervalMinutes, JoinWatermarkMs, JoinPurchaseMod}
        val intMs = JoinIntervalMinutes * 60000L
        s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
           |p AS (SELECT event_id AS purchase_id, user_id, ms FROM e
           |      WHERE event_type = 'purchase' AND event_id % $JoinPurchaseMod = 1),
           |c AS (SELECT event_id AS click_id, user_id, ms FROM e WHERE event_type = 'click'),
           |wm1 AS (SELECT least(
           |    (SELECT max(ms) FROM p WHERE purchase_id % 5 != 0),
           |    (SELECT max(ms) FROM c WHERE click_id % 5 != 0)) - $JoinWatermarkMs AS w),
           |wm2 AS (SELECT least((SELECT max(ms) FROM p), (SELECT max(ms) FROM c))
           |          - $JoinWatermarkMs AS w),
           |adm AS (SELECT * FROM p
           |        WHERE NOT (purchase_id % 5 = 0 AND ms < (SELECT w FROM wm1))),
           |m AS (SELECT adm.purchase_id, adm.user_id, adm.ms AS p_ms, c.click_id, c.ms AS c_ms
           |      FROM adm JOIN c ON adm.user_id = c.user_id
           |        AND c.ms BETWEEN adm.ms - $intMs AND adm.ms
           |      WHERE NOT (c.click_id % 5 = 0 AND c.ms < (SELECT w FROM wm1)))
           |SELECT purchase_id, user_id, p_ms, click_id, c_ms FROM m
           |UNION ALL
           |SELECT adm.purchase_id, adm.user_id, adm.ms, NULL, NULL FROM adm
           |WHERE adm.ms < (SELECT w FROM wm2)
           |  AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = adm.purchase_id)
           |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin
      }),

    // KEYED STATE under the hash gate: flatMapGroupsWithState
    // sessionization with event-time timeouts, landed by the same
    // two-phase replay — the sink holds exactly the sessions closed
    // by an observed gap or by the watermark timeout, and the oracle
    // recomputes that set from the original events table (phase-1
    // islands, both timeout cuts at WM1/WM2, and the junction
    // merge/break of surviving phase-2 rows into each user's open
    // tail). A lost state row, a timeout that failed to fire, a late
    // row reaching the state machine, or an open session leaking into
    // the sink all red the hash. Boundary rules pinned in
    // StreamingSessionSpec: both the late filter and the timeout
    // comparison are `<=`.
    "streamed_sessions" -> QueryDef(
      (s, d) => {
        val dir = graft.streaming.EventStreams.streamedSessionLayout(s, d)
        s.read.parquet(dir)
          .select("user_id", "session_start_ms", "n_events", "span_ms")
          .orderBy("user_id", "session_start_ms")
      },
      Some(streamedSessionsOracle)),

    // the SAME session state machine on Spark 4's transformWithState
    // (StatefulProcessor + named ValueState + explicit event-time
    // timers, RocksDB store) — gated by the SAME oracle text as
    // streamed_sessions: two stateful-operator generations, one
    // pinned semantics
    "streamed_sessions_tws" -> QueryDef(
      (s, d) => {
        val dir = graft.streaming.EventStreams.streamedSessionTwsLayout(s, d)
        s.read.parquet(dir)
          .select("user_id", "session_start_ms", "n_events", "span_ms")
          .orderBy("user_id", "session_start_ms")
      },
      Some(streamedSessionsOracle)),

    // dynamic partition pruning: the day set comes from a runtime
    // dim aggregate (days with a high-value purchase), so the fact
    // scan prunes via a dynamicpruning subquery instead of a literal
    // range (mechanism pinned in RuntimeFilterSpec)
    "events_dpp_join" -> QueryDef(
      (s, d) => graft.sources.Partitioning.eventsDppJoin(s, d),
      Some(s"""WITH e AS (SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
             |    event_type, value FROM events),
             |hot AS (SELECT DISTINCT day FROM e
             |        WHERE event_type = 'purchase' AND value > ${graft.sources.Partitioning.DppHotValue})
             |SELECT day, count(*) AS n, round(sum(value), 4) AS sum_value
             |FROM e JOIN hot USING (day)
             |GROUP BY day ORDER BY day""".stripMargin)),

    "part_topk" -> QueryDef(
      (s, d) => RelationalOps.partTopk(Tables.part(s, d)),
      Some("""WITH r AS (SELECT p_brand, p_partkey, p_retailprice,
             |  row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS brand_rank
             |FROM part)
             |SELECT p_brand, CAST(brand_rank AS BIGINT) AS brand_rank, p_partkey, p_retailprice
             |FROM r WHERE brand_rank <= 3 ORDER BY p_brand, brand_rank""".stripMargin)),

    "lineitem_quantiles" -> QueryDef(
      (s, d) => RelationalOps.lineitemQuantiles(Tables.lineitem(s, d)),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
             |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
             |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // exercises the SQL layer (views + parser + scalar subquery)
    // inside the driver's correctness gate
    "sql_orders_above_avg" -> QueryDef(
      (s, d) => {
        Catalog.registerViews(s, d)
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
                |FROM orders
                |WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM orders)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders
             |WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM orders)
             |ORDER BY o_orderkey""".stripMargin)),

    // pushdown probe: all three predicates must reach the parquet scan
    "q6_forecast" -> QueryDef(
      (s, d) => RelationalOps.q6Forecast(Tables.lineitem(s, d)),
      Some("""SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue, count(*) AS n_lines
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    "orders_pivot" -> QueryDef(
      (s, d) => RelationalOps.ordersPivot(Tables.orders(s, d)),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
             |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
             |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // the inverse surface: unpivot/melt back to long form — a
    // row-local Expand over the |years|-row rollup (DuckDB runs its
    // native UNPIVOT over the identical pivot CTE)
    "orders_unpivot" -> QueryDef(
      (s, d) => RelationalOps.ordersUnpivot(Tables.orders(s, d)),
      Some("""WITH p AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
             |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
             |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
             |FROM orders GROUP BY 1)
             |SELECT yr, status, n_orders
             |FROM (UNPIVOT p ON "F", "O", "P" INTO NAME status VALUE n_orders)
             |ORDER BY yr, status""".stripMargin)),

    // correlated LATERAL subquery with ORDER BY + LIMIT through the
    // SQL layer: per-nation top-2 customers by balance. Catalyst
    // decorrelates the limited subquery into a rank window over the
    // customer side (no per-nation re-scan); DuckDB executes the
    // identical text natively — the hash match proves the
    // decorrelation preserves LATERAL semantics
    "sql_lateral_topn" -> QueryDef(
      (s, d) => {
        Catalog.registerViews(s, d)
        s.sql(lateralTopNSql)
      },
      Some(lateralTopNSql)),

    // RANGE-frame window: value-based frame (orders within $100
    // below, same year+priority) over exact integer cents — the
    // frame-semantics counterpart of the positional ROWS ma7
    "orders_price_band" -> QueryDef(
      (s, d) => RelationalOps.ordersPriceBand(Tables.orders(s, d)),
      Some("""WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |    o_orderpriority, o_orderkey,
             |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
             |  FROM orders)
             |SELECT yr, o_orderpriority, o_orderkey, cents,
             |  count(*) OVER (PARTITION BY yr, o_orderpriority ORDER BY cents
             |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_band
             |FROM o ORDER BY yr, o_orderpriority, cents, o_orderkey""".stripMargin)),

    // data-quality audit: per-table rules fused into single-scan
    // conditional aggregates + an FK anti join; exact-long verdicts,
    // zero = a passing (still recomputed) check
    "dq_audit" -> QueryDef(
      (s, d) => RelationalOps.dqAudit(Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.customer(s, d)),
      Some("""SELECT rule, CAST(n_violations AS BIGINT) AS n_violations FROM (
             |  SELECT 'orders_null_custkey' AS rule,
             |    count(*) FILTER (WHERE o_custkey IS NULL) AS n_violations FROM orders
             |  UNION ALL SELECT 'orders_nonpositive_price',
             |    count(*) FILTER (WHERE o_totalprice <= 0) FROM orders
             |  UNION ALL SELECT 'orders_price_outlier',
             |    count(*) FILTER (WHERE o_totalprice > 400000) FROM orders
             |  UNION ALL SELECT 'lineitem_nonpositive_qty',
             |    count(*) FILTER (WHERE l_quantity <= 0) FROM lineitem
             |  UNION ALL SELECT 'lineitem_discount_range',
             |    count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) FROM lineitem
             |  UNION ALL SELECT 'lineitem_late_shipdate',
             |    count(*) FILTER (WHERE l_shipdate >= TIMESTAMP '1998-10-01 00:00:00') FROM lineitem
             |  UNION ALL SELECT 'orders_orphan_custkey', count(*) FROM orders o
             |    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
             |  UNION ALL SELECT 'orders_duplicate_pk', coalesce(sum(k - 1), 0)
             |    FROM (SELECT count(*) AS k FROM orders GROUP BY o_orderkey))
             |ORDER BY rule""".stripMargin)),

    // raw-blob directory ingestion through the binaryFile source:
    // the oracle re-derives every file's byte count and hex-md5
    // digest from the documents table the fixture was written from
    "binaryfile_scan" -> QueryDef(
      (s, d) => graft.sources.BinarySource.binaryInventory(s, d),
      Some(s"""SELECT doc_id,
              |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              |  md5(hex(encode(text))) AS content_md5
              |FROM documents WHERE doc_id % ${graft.sources.BinarySource.SampleMod} = 0
              |ORDER BY doc_id""".stripMargin)),

    // k-anonymity audit over the (nation, segment, balance-band)
    // quasi-identifier: group sizes under k and the rows at risk
    "k_anonymity" -> QueryDef(
      (s, d) => RelationalOps.kAnonymity(Tables.customer(s, d)),
      Some(s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
              |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band, count(*) AS n
              |  FROM customer GROUP BY 1, 2, 3)
              |SELECT CAST(count(*) AS BIGINT) AS n_groups,
              |  CAST(count(*) FILTER (WHERE n < ${RelationalOps.KAnonK}) AS BIGINT) AS n_small_groups,
              |  CAST(coalesce(sum(n) FILTER (WHERE n < ${RelationalOps.KAnonK}), 0) AS BIGINT) AS n_rows_at_risk,
              |  CAST(min(n) AS BIGINT) AS min_group_n
              |FROM g""".stripMargin)),

    // snapshot diff: one full-outer join classifies every key as
    // added/removed/changed/unchanged; the revised snapshot is
    // derived deterministically so the oracle replays the whole diff
    "table_diff" -> QueryDef(
      (s, d) => RelationalOps.tableDiff(Tables.orders(s, d)),
      Some {
        val off = RelationalOps.Scd2InsertOffset
        s"""WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
           |rev AS (
           |  SELECT o_orderkey AS r_key,
           |    CASE WHEN o_orderkey % 9 = 4 THEN round(o_totalprice + 1.0, 2)
           |         ELSE o_totalprice END AS r_price,
           |    o_orderstatus AS r_status
           |  FROM base WHERE o_orderkey % 17 != 2
           |  UNION ALL
           |  SELECT o_orderkey + $off, o_totalprice, o_orderstatus
           |  FROM base WHERE o_orderkey % 19 = 3),
           |j AS (SELECT
           |    CASE WHEN b.o_orderkey IS NULL THEN 'added'
           |         WHEN r.r_key IS NULL THEN 'removed'
           |         WHEN b.o_totalprice <> r.r_price OR b.o_orderstatus <> r.r_status
           |           THEN 'changed'
           |         ELSE 'unchanged' END AS verdict
           |  FROM base b FULL OUTER JOIN rev r ON b.o_orderkey = r.r_key)
           |SELECT verdict, count(*) AS n FROM j GROUP BY verdict ORDER BY verdict""".stripMargin
      }),

    // SCD Type-2 dimension merge: one full-outer join on the dim key
    // + row-local version fan-out; changed rows close v1 and open v2,
    // byte-identical batch rows are no-ops, new keys insert as v1
    "scd2_customer_merge" -> QueryDef(
      (s, d) => RelationalOps.scd2CustomerMerge(Tables.customer(s, d)),
      Some {
        val off = RelationalOps.Scd2InsertOffset
        s"""WITH dim AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
           |batch AS (
           |  SELECT c_custkey, 'SEG_' || (c_custkey % 5) AS u_seg,
           |         round(c_acctbal + 100.0, 2) AS u_bal
           |  FROM customer WHERE c_custkey % 7 = 3
           |  UNION ALL
           |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_custkey % 7 = 2
           |  UNION ALL
           |  SELECT c_custkey + $off, 'SEG_' || ((c_custkey + $off) % 5), c_acctbal
           |  FROM customer WHERE c_custkey % 13 = 6),
           |j AS (SELECT coalesce(d.c_custkey, b.c_custkey) AS c_custkey,
           |        d.c_mktsegment, d.c_acctbal, b.u_seg, b.u_bal,
           |        (b.u_seg IS NOT NULL AND d.c_mktsegment IS NOT NULL AND
           |         (b.u_seg <> d.c_mktsegment OR b.u_bal <> d.c_acctbal)) AS changed
           |      FROM dim d FULL OUTER JOIN batch b ON d.c_custkey = b.c_custkey)
           |SELECT * FROM (
           |  SELECT c_custkey, CAST(1 AS BIGINT) AS version, c_mktsegment AS seg,
           |    c_acctbal AS bal, CAST(0 AS BIGINT) AS valid_from,
           |    CAST(CASE WHEN changed THEN 1 END AS BIGINT) AS valid_to,
           |    CAST(CASE WHEN changed THEN 0 ELSE 1 END AS BIGINT) AS is_current
           |  FROM j WHERE c_mktsegment IS NOT NULL
           |  UNION ALL
           |  SELECT c_custkey, 2, u_seg, u_bal, 1, NULL, 1 FROM j WHERE changed
           |  UNION ALL
           |  SELECT c_custkey, 1, u_seg, u_bal, 1, NULL, 1 FROM j WHERE c_mktsegment IS NULL)
           |ORDER BY c_custkey, version""".stripMargin
      }),

    // distribution-rank windows, filtered on the ROUNDED cume_dist so
    // a boundary order cannot flip between engines
    "orders_pricerank" -> QueryDef(
      (s, d) => RelationalOps.ordersPriceRank(Tables.orders(s, d)),
      Some("""WITH r AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |    o_orderkey, o_totalprice,
             |    round(percent_rank() OVER (PARTITION BY year(o_orderdate) ORDER BY o_totalprice), 6) AS pr,
             |    round(cume_dist() OVER (PARTITION BY year(o_orderdate) ORDER BY o_totalprice), 6) AS cd
             |  FROM orders)
             |SELECT yr, o_orderkey, o_totalprice, pr, cd
             |FROM r WHERE cd >= 0.99 ORDER BY yr, o_orderkey""".stripMargin)),

    // scale-safe pricerank companion: deterministic 5% hash-sample,
    // exact per-year P99 on the sample, broadcast threshold,
    // row-local top-band filter — no per-year total sort (the exact
    // percent_rank/cume_dist 100 TB wall)
    "orders_pricerank_banded" -> QueryDef(
      (s, d) => RelationalOps.ordersPriceRankBanded(Tables.orders(s, d)),
      Some(s"""WITH base AS (SELECT o_orderkey, o_totalprice,
             |          CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders),
             |samp AS (SELECT yr, o_totalprice FROM base
             |      WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::UBIGINT % 100 < ${RelationalOps.NtileBandSamplePct}),
             |b AS (SELECT yr, round(quantile_cont(o_totalprice, 0.99), 4) AS p99
             |      FROM samp GROUP BY yr),
             |t AS (SELECT base.yr, o_totalprice, p99
             |      FROM base LEFT JOIN b ON base.yr = b.yr
             |      WHERE p99 IS NULL OR o_totalprice >= p99)
             |SELECT yr, round(max(p99), 4) AS p99_threshold,
             |  count(*) AS n_top,
             |  round(min(o_totalprice), 2) AS min_price,
             |  round(max(o_totalprice), 2) AS max_price,
             |  round(avg(o_totalprice), 4) AS avg_price
             |FROM t GROUP BY yr ORDER BY yr""".stripMargin)),

    // RFM segmentation: decimal monetary sum so the fixed band edges
    // are summation-order-independent at any SF
    "customer_rfm" -> QueryDef(
      (s, d) => RelationalOps.customerRfm(Tables.orders(s, d)),
      Some("""WITH per AS (SELECT o_custkey,
             |    strftime(max(o_orderdate), '%Y-%m-%d') AS last_order,
             |    count(*) AS frequency,
             |    sum(CAST(o_totalprice AS DECIMAL(15,2))) AS monetary
             |  FROM orders GROUP BY o_custkey),
             |b AS (SELECT
             |    CASE WHEN frequency >= 20 THEN 'F3'
             |         WHEN frequency >= 10 THEN 'F2' ELSE 'F1' END AS f_band,
             |    CASE WHEN monetary >= 2000000 THEN 'M3'
             |         WHEN monetary >= 500000 THEN 'M2' ELSE 'M1' END AS m_band,
             |    last_order FROM per)
             |SELECT f_band, m_band, count(*) AS n_customers,
             |  max(last_order) AS latest_order
             |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // scale-adaptive RFM companion: tercile cutoffs derived from a
    // deterministic hash-sample of the per-customer aggregate,
    // broadcast as a 1-row bound table — bands stay meaningful at
    // any SF (the fixed-threshold form is fixture-calibrated)
    "customer_rfm_banded" -> QueryDef(
      (s, d) => RelationalOps.customerRfmBanded(Tables.orders(s, d)),
      Some(s"""WITH per AS (SELECT o_custkey,
             |    strftime(max(o_orderdate), '%Y-%m-%d') AS last_order,
             |    count(*) AS frequency,
             |    sum(CAST(o_totalprice AS DECIMAL(15,2))) AS monetary
             |  FROM orders GROUP BY o_custkey),
             |s AS (SELECT * FROM per
             |  WHERE ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::UBIGINT % 100 < ${RelationalOps.NtileBandSamplePct}),
             |b AS (SELECT round(quantile_cont(frequency, 0.33), 4) AS f1,
             |             round(quantile_cont(frequency, 0.67), 4) AS f2,
             |             round(quantile_cont(CAST(monetary AS DOUBLE), 0.33), 4) AS m1,
             |             round(quantile_cont(CAST(monetary AS DOUBLE), 0.67), 4) AS m2
             |      FROM s)
             |SELECT f_band, m_band, count(*) AS n_customers,
             |  max(last_order) AS latest_order
             |FROM (SELECT
             |    CASE WHEN f2 IS NULL OR frequency >= f2 THEN 'F3'
             |         WHEN frequency >= f1 THEN 'F2' ELSE 'F1' END AS f_band,
             |    CASE WHEN m2 IS NULL OR monetary >= m2 THEN 'M3'
             |         WHEN monetary >= m1 THEN 'M2' ELSE 'M1' END AS m_band,
             |    last_order FROM per LEFT JOIN b ON TRUE)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // customer order-count distribution (TPC-H Q13 shape): outer
    // join keeps zero-order customers; second agg keys on the tiny
    // order-count domain
    "q13_custdist" -> QueryDef(
      (s, d) => RelationalOps.q13Custdist(Tables.customer(s, d), Tables.orders(s, d)),
      Some("""WITH per AS (SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             |  GROUP BY c_custkey)
             |SELECT c_count, count(*) AS custdist
             |FROM per GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // large-volume orders (TPC-H Q18 shape): decimal-exact HAVING
    // tail broadcast into the orders/customer join under AQE
    "q18_large_orders" -> QueryDef(
      (s, d) => RelationalOps.q18LargeOrders(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d)),
      Some("""WITH big AS (SELECT l_orderkey,
             |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
             |  FROM lineitem GROUP BY l_orderkey
             |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 210)
             |SELECT c_name, c_custkey, o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             |  o_totalprice, CAST(total_qty AS DOUBLE) AS total_qty
             |FROM orders JOIN big ON o_orderkey = l_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // conditional-aggregation join (TPC-H Q12 shape): one pass, one
    // shuffle, the priority split as in-aggregate CASE sums
    "q12_priority_mix" -> QueryDef(
      (s, d) => RelationalOps.q12PriorityMix(Tables.orders(s, d), Tables.lineitem(s, d)),
      Some("""SELECT l_linestatus,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1997-01-01'
             |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // promo revenue share (TPC-H Q14 shape): conditional numerator +
    // unconditional denominator in ONE aggregate over the part join
    "q14_promo_share" -> QueryDef(
      (s, d) => RelationalOps.q14PromoShare(Tables.part(s, d), Tables.lineitem(s, d)),
      Some("""SELECT round(100.0 *
             |  CAST(sum(CASE WHEN p_type = 'PROMO'
             |    THEN CAST(l_extendedprice AS DECIMAL(15,2)) *
             |         (1 - CAST(l_discount AS DECIMAL(15,2)))
             |    ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE) /
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
             |         (1 - CAST(l_discount AS DECIMAL(15,2)))) AS DOUBLE), 4)
             |  AS promo_revenue_pct
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
             |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin)),

    // correlated scalar subquery, decorrelated (TPC-H Q17 shape):
    // per-part avg joined back on the same key it aggregates on
    "q17_small_qty" -> QueryDef(
      (s, d) => RelationalOps.q17SmallQty(Tables.part(s, d), Tables.lineitem(s, d)),
      Some("""WITH branded AS (
             |  SELECT l_partkey, l_quantity, l_extendedprice
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE p_brand = 'Brand#3'),
             |a AS (SELECT l_partkey AS a_partkey,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)
             |      AS avg_qty
             |  FROM branded GROUP BY l_partkey)
             |SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))), 2)
             |  AS DOUBLE) AS small_qty_revenue
             |FROM branded JOIN a ON l_partkey = a_partkey
             |WHERE l_quantity < 0.5 * avg_qty""".stripMargin)),

    // global scalar threshold + date-scoped anti join (TPC-H Q22
    // shape, churn variant: lapsed since 1998)
    "q22_untapped" -> QueryDef(
      (s, d) => RelationalOps.q22Untapped(Tables.customer(s, d), Tables.orders(s, d)),
      Some("""WITH t AS (SELECT
             |    CAST(sum(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) / count(*)
             |      AS avg_bal
             |  FROM customer WHERE c_acctbal > 0)
             |SELECT c_mktsegment, count(*) AS numcust,
             |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(15,2))), 2) AS DOUBLE)
             |    AS totacctbal
             |FROM customer, t
             |WHERE c_acctbal > avg_bal
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderdate >= TIMESTAMP '1998-01-01')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // correlated EXISTS with a non-equi lateness predicate (TPC-H Q4
    // shape): left-semi on the order key, no DISTINCT, no explosion
    "q4_late_orders" -> QueryDef(
      (s, d) => RelationalOps.q4LateOrders(Tables.orders(s, d), Tables.lineitem(s, d)),
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
             |  AND o_orderdate < TIMESTAMP '1996-10-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate + INTERVAL 180 DAY)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // bidirectional nation-pair volume (TPC-H Q7 shape): bounded dims
    // broadcast, one big-big shuffle, 4-row output
    "q7_volume" -> QueryDef(
      (s, d) => RelationalOps.q7Volume(Tables.nation(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      Some("""SELECT supp_nation, cust_nation, l_year,
             |  CAST(round(sum(vol), 2) AS DOUBLE) AS revenue
             |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |        CAST(year(l_shipdate) AS BIGINT) AS l_year,
             |        CAST(l_extendedprice AS DECIMAL(15,2)) *
             |          (1 - CAST(l_discount AS DECIMAL(15,2))) AS vol
             |      FROM lineitem
             |        JOIN supplier ON l_suppkey = s_suppkey
             |        JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |        JOIN orders ON l_orderkey = o_orderkey
             |        JOIN customer ON o_custkey = c_custkey
             |        JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |        AND l_shipdate < TIMESTAMP '1998-01-01'
             |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
             |             (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
             |GROUP BY supp_nation, cust_nation, l_year
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // national market share in one region (TPC-H Q8 shape):
    // conditional numerator + denominator in ONE aggregate over the
    // 6-table join
    "q8_market_share" -> QueryDef(
      (s, d) => RelationalOps.q8MarketShare(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.part(s, d)),
      Some("""SELECT o_year,
             |  floor(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
             |                 ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE) /
             |        CAST(sum(vol) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             |    AS mkt_share
             |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |        n1.n_name AS supp_nation,
             |        CAST(l_extendedprice AS DECIMAL(15,2)) *
             |          (1 - CAST(l_discount AS DECIMAL(15,2))) AS vol
             |      FROM lineitem
             |        JOIN part ON l_partkey = p_partkey
             |        JOIN supplier ON l_suppkey = s_suppkey
             |        JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |        JOIN orders ON l_orderkey = o_orderkey
             |        JOIN customer ON o_custkey = c_custkey
             |        JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |        JOIN region ON n2.n_regionkey = r_regionkey
             |      WHERE p_type = 'ECONOMY' AND r_name = 'ASIA') t
             |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // top revenue supplier (TPC-H Q15 shape): per-supplier quarter
    // rollup, 1-row max, scalar-like join back — no window, no
    // second lineitem pass
    "q15_top_supplier" -> QueryDef(
      (s, d) => RelationalOps.q15TopSupplier(Tables.supplier(s, d), Tables.lineitem(s, d)),
      Some("""WITH revenue AS (
             |  SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(15,2)))) AS total_rev
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |    AND l_shipdate < TIMESTAMP '1996-04-01'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
             |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
             |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
             |ORDER BY s_suppkey""".stripMargin)),

    // disjunctive brand/size/quantity bands (TPC-H Q19 shape): CNF
    // pushdown puts the lineitem-only OR into the scan (plan-pinned)
    "q19_disjunctive" -> QueryDef(
      (s, d) => RelationalOps.q19Disjunctive(Tables.part(s, d), Tables.lineitem(s, d)),
      Some(s"""SELECT ${RelationalOps.RevenueExactSql} AS revenue, count(*) AS n_lines
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
              |       AND l_quantity BETWEEN 1 AND 11)
              |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
              |       AND l_quantity BETWEEN 10 AND 20)
              |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
              |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // product-type profit per nation and year (TPC-H Q9 shape,
    // synthetic 60%-of-retail supply cost; decimal-exact amounts)
    "q9_profit" -> QueryDef(
      (s, d) => RelationalOps.q9Profit(Tables.nation(s, d), Tables.supplier(s, d),
        Tables.part(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      Some("""SELECT nation, o_year,
             |  CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
             |FROM (SELECT n_name AS nation,
             |        CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |        CAST(l_extendedprice AS DECIMAL(15,2)) *
             |          (1 - CAST(l_discount AS DECIMAL(15,2))) -
             |        CAST(p_retailprice AS DECIMAL(15,2)) * CAST(0.60 AS DECIMAL(3,2)) *
             |          CAST(l_quantity AS DECIMAL(12,2)) AS amount
             |      FROM lineitem
             |        JOIN part ON l_partkey = p_partkey
             |        JOIN supplier ON l_suppkey = s_suppkey
             |        JOIN nation ON s_nationkey = n_nationkey
             |        JOIN orders ON l_orderkey = o_orderkey
             |      WHERE p_type = 'STANDARD') t
             |GROUP BY nation, o_year
             |ORDER BY nation, o_year DESC""".stripMargin)),

    // min-cost supplier per part (TPC-H Q2 shape): decorrelated min
    // over the derived partsupp, both sides share the ps CTE
    "q2_min_cost" -> QueryDef(
      (s, d) => RelationalOps.q2MinCost(Tables.region(s, d), Tables.nation(s, d),
        Tables.supplier(s, d), Tables.part(s, d), RelationalOps.partsuppTable(s, d)),
      Some(s"""WITH ${RelationalOps.PartsuppDerivedSql},
              |rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
              |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |    JOIN region ON n_regionkey = r_regionkey
              |  WHERE r_name = 'EUROPE'),
              |offers AS (SELECT ps.*, p_partkey, p_brand, s_acctbal, s_name, n_name
              |  FROM ps JOIN part ON ps_partkey = p_partkey
              |    JOIN rs ON ps_suppkey = s_suppkey
              |  WHERE p_size = ${RelationalOps.Q2PartSize}),
              |mc AS (SELECT ps_partkey AS m_partkey, min(ps_supplycost) AS min_cost
              |  FROM offers GROUP BY ps_partkey)
              |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
              |FROM offers JOIN mc ON ps_partkey = m_partkey
              |  AND ps_supplycost = min_cost
              |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100""".stripMargin)),

    // important stock (TPC-H Q11 shape): fraction-of-total HAVING via
    // an exact decimal multiply against a window-form global total
    "q11_important_stock" -> QueryDef(
      (s, d) => RelationalOps.q11ImportantStock(Tables.nation(s, d),
        Tables.supplier(s, d), RelationalOps.partsuppTable(s, d)),
      Some(s"""WITH ${RelationalOps.PartsuppDerivedSql},
              |ns AS (SELECT s_suppkey FROM supplier
              |  JOIN nation ON s_nationkey = n_nationkey
              |  WHERE n_name = 'NATION_7'),
              |pp AS (SELECT ps_partkey,
              |    sum(CAST(ps_supplycost AS DECIMAL(10,2)) *
              |        CAST(ps_availqty AS DECIMAL(8,0))) AS stock_value
              |  FROM ps JOIN ns ON ps_suppkey = s_suppkey
              |  GROUP BY ps_partkey),
              |w AS (SELECT ps_partkey, stock_value,
              |    sum(stock_value) OVER () AS total FROM pp)
              |SELECT ps_partkey, CAST(stock_value AS DOUBLE) AS stock_value
              |FROM w WHERE stock_value * ${RelationalOps.Q11Fraction} > total
              |ORDER BY stock_value DESC, ps_partkey""".stripMargin)),

    // excess availability (TPC-H Q20 shape): nested IN as semi joins,
    // the threshold compare as an exact decimal multiply
    "q20_excess_suppliers" -> QueryDef(
      (s, d) => RelationalOps.q20ExcessSuppliers(Tables.nation(s, d),
        Tables.supplier(s, d), Tables.lineitem(s, d), RelationalOps.partsuppTable(s, d)),
      Some(s"""WITH ${RelationalOps.PartsuppDerivedSql},
              |shipped AS (SELECT l_partkey AS q_partkey, l_suppkey AS q_suppkey,
              |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS shipped_qty
              |  FROM lineitem
              |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              |    AND l_shipdate < TIMESTAMP '1998-01-01'
              |  GROUP BY 1, 2),
              |excess AS (SELECT DISTINCT ps_suppkey
              |  FROM ps JOIN shipped ON ps_partkey = q_partkey
              |    AND ps_suppkey = q_suppkey
              |  WHERE CAST(ps_availqty AS DECIMAL(12,2)) * 2 > shipped_qty)
              |SELECT s_suppkey, s_name
              |FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |WHERE n_name = 'NATION_9'
              |  AND s_suppkey IN (SELECT ps_suppkey FROM excess)
              |ORDER BY s_suppkey""".stripMargin)),

    // supplier-relationship count (TPC-H Q16 shape): one-pass
    // distinct aggregate + NOT-IN anti join on the complaint list
    "q16_supplier_cnt" -> QueryDef(
      (s, d) => RelationalOps.q16SupplierCnt(Tables.supplier(s, d),
        Tables.part(s, d), Tables.lineitem(s, d)),
      Some(s"""SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
              |FROM lineitem
              |  JOIN part ON l_partkey = p_partkey
              |WHERE p_type <> 'PROMO'
              |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
              |                        WHERE s_acctbal < 0)
              |GROUP BY p_brand, p_size
              |ORDER BY supplier_cnt DESC, p_brand, p_size
              |LIMIT ${RelationalOps.Q16TopK}""".stripMargin)),

    // sole-late-supplier count (TPC-H Q21 shape): semi + anti
    // self-joins on the order key, all riding one partitioning
    "q21_waiting" -> QueryDef(
      (s, d) => RelationalOps.q21Waiting(Tables.nation(s, d), Tables.supplier(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d)),
      Some("""SELECT s_name, count(*) AS numwait
             |FROM lineitem l1
             |  JOIN supplier ON l1.l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  JOIN orders ON l1.l_orderkey = o_orderkey
             |WHERE n_name = 'NATION_5' AND o_orderstatus = 'F'
             |  AND l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey
             |                    AND l3.l_shipdate > o_orderdate + INTERVAL 365 DAY)
             |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)),

    // correlated EXISTS / NOT EXISTS through the SQL layer (plans as
    // a left-semi + left-anti join pair)
    "sql_exists_anti" -> QueryDef(
      (s, d) => {
        Catalog.registerViews(s, d)
        s.sql("""SELECT c_custkey, c_name FROM customer
                |WHERE EXISTS (SELECT 1 FROM orders
                |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
                |  AND NOT EXISTS (SELECT 1 FROM orders
                |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // the oracle is the INDEPENDENT unbinned theta-join formulation —
    // a hash match proves the bin+refine decomposition loses no pairs
    "range_join_binned" -> QueryDef(
      (s, d) => RelationalOps.rangeJoinBinned(Tables.part(s, d), Tables.lineitem(s, d)),
      Some("""WITH b AS (SELECT p_partkey, p_brand,
             |            p_retailprice * 0.9 AS lo, p_retailprice * 1.1 AS hi
             |          FROM part WHERE p_size = 1)
             |SELECT p_partkey, p_brand, count(*) AS n_in_band,
             |  round(avg(l_extendedprice), 4) AS avg_band_price
             |FROM b JOIN lineitem ON l_extendedprice >= lo AND l_extendedprice <= hi
             |GROUP BY p_partkey, p_brand ORDER BY p_partkey""".stripMargin)),

    "orders_monthly" -> QueryDef(
      (s, d) => RelationalOps.ordersMonthly(Tables.orders(s, d)),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mo,
             |  count(*) AS n_orders, CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS revenue, round(avg(o_totalprice), 4) AS avg_price
             |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // YoY growth: lag window over the |years|x12-row aggregate, never
    // the fact table; growth on the rounded revenues both sides
    "orders_yoy" -> QueryDef(
      (s, d) => RelationalOps.ordersYoy(Tables.orders(s, d)),
      Some("""WITH m AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |            CAST(month(o_orderdate) AS BIGINT) AS mo,
             |            CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS revenue
             |          FROM orders GROUP BY 1, 2),
             |l AS (SELECT yr, mo, revenue,
             |        lag(revenue) OVER (PARTITION BY mo ORDER BY yr) AS prev_revenue
             |      FROM m)
             |SELECT yr, mo, revenue, prev_revenue,
             |  round(revenue / prev_revenue - 1.0, 4) AS yoy
             |FROM l WHERE prev_revenue IS NOT NULL ORDER BY yr, mo""".stripMargin)),
  )
}
