package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.operators._

/** Registry slice: Spark-4 SQL-engine surfaces. */
private[graft] trait QueriesSqlSurface extends QueriesOracleHelpers {

  protected lazy val sqlSurfaceRegistry: Seq[(String, QueryDef)] = Seq(

    // ----- Spark-4 SQL-engine surfaces (round 13) --------------------
    // WITH RECURSIVE through the SQL layer — shared text, both
    // engines execute it verbatim. Linear calendar recursion (one row
    // per step) + pushed-down quarter of orders.
    "sql_recursive_series" -> QueryDef(
      (s, d) => { Catalog.registerViews(s, d); s.sql(recursiveSeriesSql) },
      Some(recursiveSeriesSql)),

    // log-bounded tree roll-up. The default 1M-row recursion guard is
    // raised because the working set is |customer| x log2(max key)
    // rows BY CONSTRUCTION (each step strictly shrinks: rows retire
    // at node <= 1) — ~31M rows at the 100x gate, not unbounded.
    "sql_recursive_chain" -> QueryDef(
      (s, d) => {
        Catalog.registerViews(s, d)
        // Raise the recursion row guard for THIS query only: the limit
        // is read at physical planning (first action), so the plan must
        // be forced (eager localCheckpoint) before the previous value is
        // restored — otherwise every later query on the shared session
        // would run with a 200x weakened recursion guard.
        val key = "spark.sql.cteRecursionRowLimit"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "200000000")
        try s.sql(recursiveChainSql).localCheckpoint(true)
        finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None    => s.conf.unset(key)
        }
      },
      Some(recursiveChainSql)),

    // SQL scalar UDFs (CREATE TEMPORARY FUNCTION ... RETURN expr),
    // including a UDF-calls-UDF body: both are parse-time inlined by
    // Spark, so the aggregate runs the same whole-stage-codegen'd
    // arithmetic as hand-inlined q1 — the oracle states that by
    // textually inlining the bodies (left-associative, same op order).
    "sql_udf_pricing" -> QueryDef(
      (s, d) => {
        Catalog.registerViews(s, d)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_rev(p DOUBLE, d DOUBLE)
                |RETURNS DOUBLE RETURN p * (1.0 - d)""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_charge(p DOUBLE, d DOUBLE, t DOUBLE)
                |RETURNS DOUBLE RETURN graft_disc_rev(p, d) * (1.0 + t)""".stripMargin)
        s.sql(sqlUdfSelect
          .replace("%DISC%", "graft_disc_rev(l_extendedprice, l_discount)")
          .replace("%CHARGE%", "graft_charge(l_extendedprice, l_discount, l_tax)"))
      },
      Some(sqlUdfSelect
        .replace("%DISC%", "l_extendedprice * (1.0 - l_discount)")
        .replace("%CHARGE%", "(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)"))),

    // SQL TABLE function (UDTF): per-brand top-3 by retail price,
    // invoked directly with literal arguments. Deliberately NOT the
    // LATERAL form: Spark 4.1.2 mis-decorrelates a LIMIT inside a SQL
    // UDTF under LATERAL (the limit is applied globally, returning
    // the first rows of the table joined to their own correlation
    // key — reproduced on this dataset), while direct invocation
    // plans the ordinary TopK-per-call and matches the oracle.
    "sql_udtf_brand_top" -> QueryDef(
      (s, d) => {
        Catalog.registerViews(s, d)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_brand_top(b STRING)
                |RETURNS TABLE (pk BIGINT, price DOUBLE)
                |RETURN SELECT p_partkey, p_retailprice FROM part
                |       WHERE p_brand = b
                |       ORDER BY p_retailprice DESC, p_partkey LIMIT 3""".stripMargin)
        s.sql("""SELECT 'Brand#11' AS brand, pk, price FROM graft_brand_top('Brand#11')
                |UNION ALL
                |SELECT 'Brand#22' AS brand, pk, price FROM graft_brand_top('Brand#22')
                |UNION ALL
                |SELECT 'Brand#33' AS brand, pk, price FROM graft_brand_top('Brand#33')
                |ORDER BY brand, price DESC, pk""".stripMargin)
      },
      Some("""SELECT brand, pk, price FROM (
             |  SELECT 'Brand#11' AS brand, p_partkey AS pk, p_retailprice AS price
             |  FROM part WHERE p_brand = 'Brand#11'
             |  ORDER BY p_retailprice DESC, p_partkey LIMIT 3)
             |UNION ALL
             |SELECT brand, pk, price FROM (
             |  SELECT 'Brand#22' AS brand, p_partkey AS pk, p_retailprice AS price
             |  FROM part WHERE p_brand = 'Brand#22'
             |  ORDER BY p_retailprice DESC, p_partkey LIMIT 3)
             |UNION ALL
             |SELECT brand, pk, price FROM (
             |  SELECT 'Brand#33' AS brand, p_partkey AS pk, p_retailprice AS price
             |  FROM part WHERE p_brand = 'Brand#33'
             |  ORDER BY p_retailprice DESC, p_partkey LIMIT 3)
             |ORDER BY brand, price DESC, pk""".stripMargin)),

    // VARIANT semi-structured path (parse_json -> variant_get): the
    // oracle reproduces the semantics relationally (regex extraction
    // + typed columns); n_absent pins try_variant_get's missing-path
    // -> NULL contract (no per-row error), constant 0 on this corpus.
    "events_variant" -> QueryDef(
      (s, d) => EventsOps.variantProps(Tables.events(s, d)),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(regexp_extract(props, '"k"\s*:\s*([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
             |  max(user_id) AS max_u,
             |  round(sum(value * 2), 4) AS sum_x2,
             |  CAST(0 AS BIGINT) AS n_absent
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // CDC changelog apply (lakehouse upsert/delete): snapshot +
    // sequenced I/U/D ops -> post-apply table; latest-op-per-key via
    // one keyed window, apply via one full-outer join on the key
    "cdc_apply" -> QueryDef(
      (s, d) => RelationalOps.cdcApply(Tables.orders(s, d)),
      Some(cdcApplySql)),

    // the same apply, but the changelog arrives as a checkpointed
    // micro-batch stream folding into versioned keyed state — with
    // the higher-sequenced wave delivered FIRST, so the seq guard
    // (not batch order) decides every double-updated key. One oracle
    // text gates both paths: streamed state == one-batch apply.
    "streamed_cdc_apply" -> QueryDef(
      (s, d) => {
        val root = graft.streaming.EventStreams.streamedCdcLayout(s, d)
        val stateRoot = s"$root/state"
        val v = graft.streaming.EventStreams.latestCdcVersion(stateRoot)
        s.read.parquet(s"$stateRoot/v$v")
          .where(col("src") =!= "del")
          .select(col("key").as("o_orderkey"), col("price"), col("src"))
          .orderBy("o_orderkey")
      },
      Some(cdcApplySql)),

    // state GC between folds: fold wave 1, COMPACT tombstones at the
    // wave-1 sequence horizon, fold wave 2 — the same oracle text
    // proves compaction is invisible to later folds and readers
    "cdc_apply_compacted" -> QueryDef(
      (s, d) => RelationalOps.cdcApplyCompacted(Tables.orders(s, d)),
      Some(cdcApplySql)),

    // TIME TRAVEL on the version chain — the reason truncation is
    // opt-in: v1 is the state after the FIRST delivered micro-batch,
    // which the layout forces to be the file holding every op with
    // seq >= CdcSeqOffset (explicit mtimes, maxFilesPerTrigger=1), so
    // the as-of oracle replays exactly that SUBSET of the changelog —
    // an oracle no full-changelog replay can match by accident. At
    // the driver SFs the subset is only the double-update arm; at the
    // 10x/skew fixtures shifted order keys exceed the offset, pulling
    // shifted-copy primary I/U/D ops into the same file — the oracle
    // derives the subset from the seq split itself, never from which
    // arms it "should" contain (the r14 10x gate caught the
    // arm-enumerating version of this text).
    "streamed_cdc_asof" -> QueryDef(
      (s, d) => {
        val root = graft.streaming.EventStreams.streamedCdcLayout(s, d)
        s.read.parquet(s"$root/state/v1")
          .where(col("src") =!= "del")
          .select(col("key").as("o_orderkey"), col("price"), col("src"))
          .orderBy("o_orderkey")
      },
      Some {
        val off = RelationalOps.CdcSeqOffset
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
           |w2 AS (SELECT * FROM ops WHERE seq >= $off),
           |latest AS (SELECT op, key, new_price FROM (
           |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
           |  FROM w2) WHERE rn = 1),
           |m AS (SELECT coalesce(s.key, l.key) AS o_orderkey,
           |    CASE WHEN l.key IS NOT NULL THEN l.new_price ELSE s.price END AS price,
           |    CASE WHEN l.key IS NOT NULL THEN 'cdc' ELSE 'snap' END AS src,
           |    l.op AS op
           |  FROM snap s FULL OUTER JOIN latest l ON s.key = l.key)
           |SELECT o_orderkey, price, src FROM m WHERE op IS NULL OR op <> 'D'
           |ORDER BY o_orderkey""".stripMargin
      }),

    // state GC on the streamed chain: the version chain truncated to
    // ONE compacted tombstone-free version; reading it matches the
    // same oracle as the live chain — compaction == history, proven
    "streamed_cdc_compacted" -> QueryDef(
      (s, d) => {
        val root = graft.streaming.EventStreams.streamedCdcCompactedLayout(s, d)
        val stateRoot = s"$root/state"
        val v = graft.streaming.EventStreams.latestCdcVersion(stateRoot)
        s.read.parquet(s"$stateRoot/v$v")
          .where(col("src") =!= "del")
          .select(col("key").as("o_orderkey"), col("price"), col("src"))
          .orderBy("o_orderkey")
      },
      Some(cdcApplySql)),

    // incremental MV maintenance: persisted even-half daily rollup +
    // odd-half batch, merged as partials; oracle = full recompute
    // over ALL events, so a stale/double-applied MV reds the gate
    "incremental_daily_counts" -> QueryDef(
      (s, d) => EventsOps.incrementalDailyCounts(s, d),
      Some("""SELECT event_type,
             |  strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
             |  count(*) AS n,
             |  round(CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0, 2) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // null-safe equality join (<=>): NULL keys match each other —
    // the semantics plain = can never express (its NULL comparisons
    // drop rows). Keys are nulled deterministically; the oracle is
    // IS NOT DISTINCT FROM. Since the r20 pre-aggregation rewrite the
    // row prices the <=> SEMANTICS on a 51×51 aggregate join, not the
    // raw skewed-null-bucket execution (that explosion no longer
    // exists as rows anywhere — which IS the optimization); the gated
    // numbers still move on any silent null-dropping regression.
    "join_null_safe" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.functions.{coalesce, count, sum => ssum, when => swhen}
        // r20 (guide §2.3 — aggregate before you shuffle): the pair
        // count per key is the PRODUCT of the two sides' per-key
        // counts, so each side pre-aggregates to <= 51 rows and the
        // null-safe join matches count rows instead of materializing
        // ~28M pair rows at sf0.1 (3.6 s -> sub-second; the exploding
        // skew bucket never exists as rows). The <=> semantics the
        // row gates — NULL keys matching each other — are exercised
        // unchanged on the aggregate join, and the result set is
        // bit-identical (same oracle).
        val o = Tables.orders(s, d)
        val a = o.where(col("o_orderkey") % 4 === 0)
          .select(swhen(col("o_orderkey") % 20 === 0, lit(null))
            .otherwise(col("o_custkey") % 50).as("ka"))
          .groupBy(col("ka")).agg(count(lit(1)).as("na"))
        val b = o.where(col("o_orderkey") % 4 === 2)
          .select(swhen(col("o_orderkey") % 20 === 2, lit(null))
            .otherwise(col("o_custkey") % 50).as("kb"))
          .groupBy(col("kb")).agg(count(lit(1)).as("nb"))
        a.join(b, col("ka") <=> col("kb"))
          .groupBy(coalesce(col("ka"), lit(-1L)).as("k"))
          .agg(ssum(col("na") * col("nb")).as("n_pairs"))
          .orderBy("k")
      },
      Some("""WITH a AS (SELECT CASE WHEN o_orderkey % 20 = 0 THEN NULL
             |    ELSE o_custkey % 50 END AS ka
             |  FROM orders WHERE o_orderkey % 4 = 0),
             |b AS (SELECT CASE WHEN o_orderkey % 20 = 2 THEN NULL
             |    ELSE o_custkey % 50 END AS kb
             |  FROM orders WHERE o_orderkey % 4 = 2)
             |SELECT coalesce(ka, -1) AS k, count(*) AS n_pairs
             |FROM a JOIN b ON ka IS NOT DISTINCT FROM kb
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXECUTE IMMEDIATE over a statement held in a session variable —
    // completes the SQL-scripting triad (parameter markers, session
    // variables, dynamic execution)
    "sql_execute_immediate" -> QueryDef(
      (s, d) => {
        Catalog.registerViews(s, d)
        s.sql("DECLARE OR REPLACE VARIABLE graft_stmt STRING")
        s.sql("""SET VAR graft_stmt =
                |  'SELECT p_brand, count(*) AS n, CAST(max(p_size) AS BIGINT) AS max_size
                |   FROM part WHERE p_size >= 40 GROUP BY p_brand ORDER BY p_brand'""".stripMargin)
        s.sql("EXECUTE IMMEDIATE graft_stmt")
      },
      Some("""SELECT p_brand, count(*) AS n, CAST(max(p_size) AS BIGINT) AS max_size
             |FROM part WHERE p_size >= 40 GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // dynamic partition overwrite: one day restated in place; the
    // oracle checks BOTH directions (delta on the restated day,
    // byte-identity everywhere else), so a static-mode truncation or
    // a double restatement reds the gate
    "dynamic_overwrite_daily" -> QueryDef(
      (s, d) => graft.sources.Partitioning.eventsRestatedDaily(s, d),
      Some {
        val day = graft.sources.Partitioning.RestateDay
        val delta = graft.sources.Partitioning.RestateDelta
        s"""WITH e AS (SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day, value FROM events),
           |r AS (SELECT day, CASE WHEN day = '$day' THEN value + $delta ELSE value END AS value FROM e)
           |SELECT day, count(*) AS n,
           |  round(CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0, 2) AS sum_value
           |FROM r GROUP BY day ORDER BY day""".stripMargin
      }),

    // mergeSchema over two file generations (additive column +
    // partition column): old files null-fill the new column; the
    // oracle re-derives generation membership from key parity
    "schema_evolution_scan" -> QueryDef(
      (s, d) => graft.sources.Partitioning.schemaEvolutionScan(s, d),
      Some("""WITH t AS (SELECT o_orderkey, o_totalprice,
             |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS status_raw,
             |    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS gen FROM orders)
             |SELECT CAST(gen AS BIGINT) AS gen,
             |  coalesce(status_raw, 'LEGACY') AS status, count(*) AS n,
             |  round(CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
             |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // typed Aggregator UDAF (the public custom-aggregate API, next
    // to the sketches' TypedImperativeAggregate): geometric mean in
    // log space, constant two-double buffer, partial-agg mergeable
    "events_geomean_udaf" -> QueryDef(
      (s, d) => EventsOps.geoMeanByType(Tables.events(s, d)),
      Some("""SELECT event_type, count(*) AS n,
             |  round(exp(avg(ln(value))), 4) AS geomean
             |FROM events WHERE value > 0
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // EWMA: seed-at-first-observation exponential smoothing as a
    // LEFT FOLD over an ordered window collect_list (recurrences
    // aren't window sums); list size capped by the calendar, both
    // engines fold the identical sequence -> bit-equal doubles.
    // DuckDB list_reduce's first-element-accumulator convention IS
    // the EWMA seed.
    "events_ewma" -> QueryDef(
      (s, d) => EventsOps.ewmaDaily(Tables.events(s, d)),
      Some("""WITH daily AS (SELECT event_type,
             |    strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
             |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS x
             |  FROM events GROUP BY 1, 2),
             |l AS (SELECT event_type, day, x,
             |    list(x) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
             |  FROM daily)
             |SELECT event_type, day, round(x, 2) AS sum_value,
             |  round(list_reduce(xs, (acc, v) -> acc * 0.75 + v * 0.25), 4) AS ewma
             |FROM l ORDER BY event_type, day""".stripMargin)),

    // Holt level+trend double-exponential smoothing: the recurrence
    // replayed as a recursive CTE over the per-type day index (NOT
    // list_reduce — DuckDB's struct accumulator updates fields
    // sequentially, so the trend expression would read the
    // already-overwritten level; measured, documented in EventsOps)
    "events_holt_trend" -> QueryDef(
      (s, d) => EventsOps.holtDaily(Tables.events(s, d)),
      Some("""WITH RECURSIVE daily AS (SELECT event_type,
             |    strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
             |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS x
             |  FROM events GROUP BY 1, 2),
             |seq AS MATERIALIZED (SELECT event_type, day, x,
             |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
             |  FROM daily),
             |rec AS (
             |  SELECT event_type, day, x, i, x AS l, 0.0::DOUBLE AS b
             |  FROM seq WHERE i = 1
             |  UNION ALL
             |  SELECT s.event_type, s.day, s.x, s.i,
             |    s.x * 0.5 + (r.l + r.b) * 0.5 AS l,
             |    (s.x * 0.5 + (r.l + r.b) * 0.5 - r.l) * 0.25 + r.b * 0.75 AS b
             |  FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1)
             |SELECT event_type, day, round(x, 2) AS sum_value,
             |  round(l, 4) AS level, round(b, 4) AS trend,
             |  round(l + b, 4) AS forecast_next
             |FROM rec ORDER BY event_type, day""".stripMargin)),

    // Holt-Winters level+trend+SEASON (additive, 7-slot rotation over
    // the observed day sequence, causal all-zero seasonal seeding):
    // the same recursive-CTE replay widened to carry the seasonal
    // LIST column, its one updated position rewritten per step with a
    // list comprehension over generate_series
    "events_holt_winters" -> QueryDef(
      (s, d) => EventsOps.holtWintersDaily(Tables.events(s, d)),
      Some {
        // l' repeated verbatim inside b'/s' (no lambda lets in SQL);
        // identical op sequence to the Spark fold -> bit-equal doubles
        val lN = "(s2.x - r.s[((s2.i - 1) % 7) + 1]) * 0.5 + (r.l + r.b) * 0.5"
        s"""WITH RECURSIVE daily AS (SELECT event_type,
           |    strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day,
           |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS x
           |  FROM events GROUP BY 1, 2),
           |seq AS MATERIALIZED (SELECT event_type, day, x,
           |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
           |  FROM daily),
           |rec AS (
           |  SELECT event_type, day, x, i, x AS l, 0.0::DOUBLE AS b,
           |    [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[] AS s
           |  FROM seq WHERE i = 1
           |  UNION ALL
           |  SELECT s2.event_type, s2.day, s2.x, s2.i,
           |    $lN AS l,
           |    (($lN) - r.l) * 0.25 + r.b * 0.75 AS b,
           |    list_transform(generate_series(1, 7), j ->
           |      CASE WHEN j = ((s2.i - 1) % 7) + 1
           |        THEN (s2.x - ($lN)) * 0.25 + r.s[j] * 0.75
           |        ELSE r.s[j] END) AS s
           |  FROM rec r JOIN seq s2 ON s2.event_type = r.event_type AND s2.i = r.i + 1)
           |SELECT event_type, day, round(x, 2) AS sum_value,
           |  round(l, 4) AS level, round(b, 4) AS trend,
           |  round(s[((i - 1) % 7) + 1], 4) AS season,
           |  round(l + b + s[(i % 7) + 1], 4) AS forecast_next
           |FROM rec ORDER BY event_type, day""".stripMargin
      }),

    // robust outliers: median/MAD over exact integer cents (exact
    // percentile buffers bounded by the distinct-cents domain; the
    // even-count midpoint is exact binary, so counts carry zero
    // tolerance)
    "events_mad_outliers" -> QueryDef(
      (s, d) => EventsOps.madOutliers(Tables.events(s, d)),
      Some("""WITH c AS (SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c FROM events),
             |m AS (SELECT event_type, median(c) AS med FROM c GROUP BY 1),
             |d AS (SELECT c.event_type, c.c, m.med, abs(c.c - m.med) AS adev
             |      FROM c JOIN m USING (event_type)),
             |md AS (SELECT event_type, median(adev) AS mad FROM d GROUP BY 1)
             |SELECT d.event_type, count(*) AS n,
             |  min(d.med) / 100.0 AS median_value,
             |  min(md.mad) / 100.0 AS mad_value,
             |  CAST(sum(CASE WHEN d.adev > md.mad * 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM d JOIN md USING (event_type)
             |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),

    // parameterized SQL (named parameter markers): the statement is
    // compiled with :lo/:hi placeholders and literal ARGUMENTS bound
    // at execution — the injection-safe programmatic SQL surface.
    // The oracle inlines the same literals.
    "sql_param_markers" -> QueryDef(
      (s, d) => {
        Catalog.registerViews(s, d)
        s.sql(
          """SELECT o_orderpriority, count(*) AS n,
            |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS revenue
            |FROM orders
            |WHERE o_orderdate >= :lo AND o_orderdate < :hi
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
          Map("lo" -> java.time.LocalDate.parse("1996-01-01"),
            "hi" -> java.time.LocalDate.parse("1997-01-01")))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS revenue
             |FROM orders
             |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // SQL session variables (DECLARE / SET VAR) + the IDENTIFIER()
    // clause resolving a table name from a variable — the scripting
    // surface. The oracle inlines both the threshold and the name.
    "sql_session_vars" -> QueryDef(
      (s, d) => {
        Catalog.registerViews(s, d)
        s.sql("DECLARE OR REPLACE VARIABLE graft_min_bal DOUBLE")
        s.sql("SET VAR graft_min_bal = 9000.0")
        s.sql("DECLARE OR REPLACE VARIABLE graft_tbl STRING")
        s.sql("SET VAR graft_tbl = 'customer'")
        s.sql(
          """SELECT c_mktsegment, count(*) AS n_rich,
            |  round(avg(c_acctbal), 4) AS avg_bal
            |FROM IDENTIFIER(graft_tbl)
            |WHERE c_acctbal >= graft_min_bal
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      },
      Some("""SELECT c_mktsegment, count(*) AS n_rich,
             |  round(avg(c_acctbal), 4) AS avg_bal
             |FROM customer
             |WHERE c_acctbal >= 9000.0
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // 2-D strict-dominance pareto frontier via the distributed
    // prefix-min scan (ScanOps): per-x min, range-partitioned scan
    // stitched by a constant-size per-partition summary — no
    // all-pairs join, no single-partition window. The oracle states
    // the same per-x + exclusive-prefix-min semantics with a window
    // (fine at oracle scale; the engine side must not plan that).
    "part_skyline" -> QueryDef(
      (s, d) => ScanOps.partSkyline(Tables.part(s, d)),
      Some("""WITH t AS (SELECT p_partkey, p_brand, p_retailprice,
             |    CAST(p_size AS BIGINT) AS p_size,
             |    -CAST(p_size AS DOUBLE) AS negsize FROM part),
             |a AS (SELECT p_retailprice AS x, min(negsize) AS ymin FROM t GROUP BY 1),
             |s AS (SELECT x, ymin, min(ymin) OVER (ORDER BY x
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior FROM a),
             |k AS (SELECT x, ymin FROM s WHERE prior IS NULL OR ymin < prior)
             |SELECT t.p_partkey, t.p_brand, t.p_retailprice, t.p_size
             |FROM t JOIN k ON t.p_retailprice = k.x AND t.negsize = k.ymin
             |ORDER BY t.p_retailprice, t.p_partkey""".stripMargin)),

    // Johnson–Lindenstrauss sparse ±1 projection, row-local unrolled
    // sums; the oracle regenerates the SAME deterministic matrix and
    // op order from SimilarityOps.jlWeight
    "embedding_projection" -> QueryDef(
      (s, d) => SimilarityOps.embeddingProjection(Tables.embeddings(s, d)),
      Some(jlProjectionSql())),

    // ---- round 14: entity resolution, attribution, time-series fill,
    // path mining, SCD2 point-in-time, OPTIMIZE/compaction ----

    // blocked edit-distance record linkage: DISTINCT -> block on the
    // UNION of first-token and last-token keys -> dedupe candidates
    // -> levenshtein verify once per pair. Never an all-pairs theta
    // join; both engines compute the same classic DP distance, so the
    // pair set is exact. The union's recall vs the unblocked truth is
    // itself gated (fuzzy_recall_eval).
    "fuzzy_join_parts" -> QueryDef(
      (s, d) => ResolutionOps.fuzzyPartPairs(Tables.part(s, d)),
      Some(s"""$fuzzyCandCtes
             |SELECT name_a, name_b,
             |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
             |FROM cand
             |WHERE levenshtein(name_a, name_b) <= ${ResolutionOps.MaxEditDistance}
             |ORDER BY name_a, name_b""".stripMargin)),

    // one resolution round: every name folds onto the lexicographic
    // min of its matched neighborhood (itself included), and the fact
    // table aggregates on the canonical key; the price sum is exact
    // decimal cents (the revenueExact discipline)
    "fuzzy_canonical_parts" -> QueryDef(
      (s, d) => ResolutionOps.fuzzyCanonicalParts(Tables.part(s, d)),
      Some(s"""$fuzzyCandCtes,
             |m AS (SELECT name_a, name_b FROM cand
             |  WHERE levenshtein(name_a, name_b) <= ${ResolutionOps.MaxEditDistance}),
             |neigh AS (SELECT name_a AS p_name, name_b AS other FROM m
             |  UNION ALL SELECT name_b, name_a FROM m
             |  UNION ALL SELECT p_name, p_name FROM names),
             |cn AS (SELECT p_name, min(other) AS canon FROM neigh GROUP BY p_name)
             |SELECT canon, count(DISTINCT p.p_name) AS n_names,
             |  count(*) AS n_parts,
             |  CAST(round(sum(CAST(p_retailprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS sum_price
             |FROM part p JOIN cn USING (p_name)
             |GROUP BY canon ORDER BY canon""".stripMargin)),

    // MULTI-FIELD record linkage: the block key is the CONJUNCTION
    // of a name key (first/last/sorted-set union) and an overlapping
    // price band (cents DIV 500 and the band above — pigeonhole
    // recall 1 on the price axis), so candidates must look alike on
    // both fields before the verifier runs; equi-join only, 6 block
    // rows per record, verify = banded levenshtein AND |delta cents|
    "fuzzy_multikey_pairs" -> QueryDef(
      (s, d) => ResolutionOps.fuzzyMultiKeyPairs(Tables.part(s, d)),
      Some {
        val sset = (c: String) =>
          s"array_to_string(list_sort(list_distinct(string_split($c, ' '))), ' ')"
        val w = ResolutionOps.PriceBandCents
        s"""WITH recs AS (SELECT DISTINCT p_name,
           |    CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents FROM part),
           |b1 AS (SELECT p_name, cents, unnest(list_distinct([
           |    'f:' || split_part(p_name, ' ', 1),
           |    'l:' || string_split(p_name, ' ')[-1],
           |    's:' || ${sset("p_name")}])) AS nk FROM recs),
           |b2 AS (SELECT p_name, cents, nk,
           |    unnest([cents // $w, cents // $w + 1]) AS band FROM b1),
           |blocks AS (SELECT p_name, cents, nk || '@' || band::VARCHAR AS blk FROM b2),
           |cand AS (SELECT DISTINCT a.p_name AS name_a, a.cents AS ca,
           |    b.p_name AS name_b, b.cents AS cb
           |  FROM blocks a JOIN blocks b USING (blk)
           |  WHERE a.p_name < b.p_name
           |     OR (a.p_name = b.p_name AND a.cents < b.cents))
           |SELECT name_a, name_b,
           |  round(ca / 100.0, 2) AS price_a, round(cb / 100.0, 2) AS price_b,
           |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist,
           |  CAST(abs(ca - cb) AS BIGINT) AS price_diff_c
           |FROM cand
           |WHERE levenshtein(name_a, name_b) <= ${ResolutionOps.MaxEditDistance}
           |  AND abs(ca - cb) <= $w
           |ORDER BY name_a, name_b, price_a, price_b""".stripMargin
      }),

    // blocking-recall eval (the ann_recall_eval discipline applied to
    // record linkage): unblocked banded-levenshtein truth over the
    // distinct-name domain vs what each blocking strategy can reach —
    // the measured number behind the first∪last union key
    "fuzzy_recall_eval" -> QueryDef(
      (s, d) => ResolutionOps.fuzzyRecallEval(Tables.part(s, d)),
      Some {
        val sset = (c: String) =>
          s"array_to_string(list_sort(list_distinct(string_split($c, ' '))), ' ')"
        s"""WITH names AS (SELECT DISTINCT p_name FROM part),
           |t AS (SELECT a.p_name AS na, b.p_name AS nb
           |  FROM names a JOIN names b ON a.p_name < b.p_name
           |  WHERE levenshtein(a.p_name, b.p_name) <= ${ResolutionOps.MaxEditDistance}),
           |f AS (SELECT count(*) AS truth,
           |  coalesce(sum(CASE WHEN split_part(na, ' ', 1) = split_part(nb, ' ', 1)
           |    THEN 1 ELSE 0 END), 0) AS f1,
           |  coalesce(sum(CASE WHEN split_part(na, ' ', 1) = split_part(nb, ' ', 1)
           |      OR string_split(na, ' ')[-1] = string_split(nb, ' ')[-1]
           |    THEN 1 ELSE 0 END), 0) AS fu,
           |  coalesce(sum(CASE WHEN split_part(na, ' ', 1) = split_part(nb, ' ', 1)
           |      OR string_split(na, ' ')[-1] = string_split(nb, ' ')[-1]
           |      OR ${sset("na")} = ${sset("nb")}
           |    THEN 1 ELSE 0 END), 0) AS fs
           |  FROM t),
           |rv AS (SELECT p_name AS na,
           |    array_to_string(list_reverse(string_split(p_name, ' ')), ' ') AS nb
           |  FROM names),
           |r AS (SELECT count(*) AS rtruth,
           |  coalesce(sum(CASE WHEN split_part(na, ' ', 1) = split_part(nb, ' ', 1)
           |      OR string_split(na, ' ')[-1] = string_split(nb, ' ')[-1]
           |    THEN 1 ELSE 0 END), 0) AS rfu,
           |  count(*) AS rfs
           |  FROM rv WHERE na <> nb),
           |recs AS (SELECT DISTINCT p_name,
           |    CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents FROM part),
           |dd AS (SELECT greatest(1, count(*) // ${ResolutionOps.FuzzyTruthSampleTarget}) AS d FROM recs),
           |srec AS (SELECT p_name, cents FROM recs, dd
           |  WHERE ${ResolutionOps.TruthSampleHashSql} % d = 0),
           |pt AS (SELECT a.p_name AS na, a.cents AS ca, b.p_name AS nb, b.cents AS cb
           |  FROM srec a JOIN srec b
           |    ON (a.p_name < b.p_name OR (a.p_name = b.p_name AND a.cents < b.cents))
           |  WHERE levenshtein(a.p_name, b.p_name) <= ${ResolutionOps.MaxEditDistance}
           |    AND abs(a.cents - b.cents) <= ${ResolutionOps.PriceBandCents}),
           |pf AS (SELECT count(*) AS ptruth,
           |  coalesce(sum(CASE WHEN (split_part(na, ' ', 1) = split_part(nb, ' ', 1)
           |      OR string_split(na, ' ')[-1] = string_split(nb, ' ')[-1]
           |      OR ${sset("na")} = ${sset("nb")})
           |      AND abs(ca // ${ResolutionOps.PriceBandCents}
           |              - cb // ${ResolutionOps.PriceBandCents}) <= 1
           |    THEN 1 ELSE 0 END), 0) AS pfc,
           |  coalesce(sum(CASE WHEN split_part(na, ' ', 1) = split_part(nb, ' ', 1)
           |      OR string_split(na, ' ')[-1] = string_split(nb, ' ')[-1]
           |      OR ${sset("na")} = ${sset("nb")}
           |    THEN 1 ELSE 0 END), 0) AS pfn
           |  FROM pt)
           |SELECT 'conjunction_priceband' AS strategy, 'price_typo' AS pair_class,
           |  CAST(pfc AS BIGINT) AS found, CAST(ptruth AS BIGINT) AS truth,
           |  ${TextAnalysisOps.det4Sql("pfc::DOUBLE / ptruth")} AS recall FROM pf
           |UNION ALL
           |SELECT 'sorted_set_union', 'price_typo', CAST(pfn AS BIGINT),
           |  CAST(ptruth AS BIGINT),
           |  ${TextAnalysisOps.det4Sql("pfn::DOUBLE / ptruth")} FROM pf
           |UNION ALL
           |SELECT 'first_last_union' AS strategy, 'reorder' AS pair_class,
           |  CAST(rfu AS BIGINT) AS found, CAST(rtruth AS BIGINT) AS truth,
           |  ${TextAnalysisOps.det4Sql("rfu::DOUBLE / rtruth")} AS recall FROM r
           |UNION ALL
           |SELECT 'first_last_union', 'typo', CAST(fu AS BIGINT),
           |  CAST(truth AS BIGINT),
           |  ${TextAnalysisOps.det4Sql("fu::DOUBLE / truth")} FROM f
           |UNION ALL
           |SELECT 'first_token', 'typo', CAST(f1 AS BIGINT), CAST(truth AS BIGINT),
           |  ${TextAnalysisOps.det4Sql("f1::DOUBLE / truth")} FROM f
           |UNION ALL
           |SELECT 'sorted_set_union', 'reorder', CAST(rfs AS BIGINT),
           |  CAST(rtruth AS BIGINT),
           |  ${TextAnalysisOps.det4Sql("rfs::DOUBLE / rtruth")} FROM r
           |UNION ALL
           |SELECT 'sorted_set_union', 'typo', CAST(fs AS BIGINT),
           |  CAST(truth AS BIGINT),
           |  ${TextAnalysisOps.det4Sql("fs::DOUBLE / truth")} FROM f
           |ORDER BY strategy, pair_class""".stripMargin
      }),

    // the reorder-robust RESOLUTION leg: every multi-token catalog
    // name reversed plays the incoming dirty record (the class's
    // deterministic worst case), blocked by the same 3-key union
    // (equi-join only) and verified by token-set Jaccard >= 0.5 —
    // the edit-distance verifier reports -1 on nearly every resolved
    // row, which is the measured point: this class is invisible to it
    "fuzzy_reorder_resolve" -> QueryDef(
      (s, d) => ResolutionOps.fuzzyReorderResolve(Tables.part(s, d)),
      Some {
        val sset = (c: String) =>
          s"array_to_string(list_sort(list_distinct(string_split($c, ' '))), ' ')"
        val keys = (c: String) =>
          s"""list_distinct(['f:' || split_part($c, ' ', 1),
             |    'l:' || string_split($c, ' ')[-1],
             |    's:' || ${sset(c)}])""".stripMargin
        s"""WITH names AS (SELECT DISTINCT p_name FROM part),
           |dn AS (SELECT array_to_string(list_reverse(string_split(p_name, ' ')), ' ')
           |    AS dirty_name, p_name FROM names),
           |dirty AS (SELECT dirty_name, unnest(${keys("dirty_name")}) AS blk
           |  FROM dn WHERE dirty_name <> p_name),
           |catalog AS (SELECT p_name AS resolved_name,
           |    unnest(${keys("p_name")}) AS blk FROM names),
           |cand2 AS (SELECT DISTINCT dirty_name, resolved_name
           |  FROM dirty JOIN catalog USING (blk)),
           |j AS (SELECT dirty_name, resolved_name,
           |    len(list_intersect(list_distinct(string_split(dirty_name, ' ')),
           |                       list_distinct(string_split(resolved_name, ' '))))::DOUBLE
           |    / len(list_distinct(string_split(dirty_name, ' ') || string_split(resolved_name, ' ')))::DOUBLE
           |      AS jaccard
           |  FROM cand2)
           |SELECT dirty_name, resolved_name, round(jaccard, 4) AS jaccard,
           |  CAST(CASE WHEN levenshtein(dirty_name, resolved_name) <= ${ResolutionOps.MaxEditDistance}
           |    THEN levenshtein(dirty_name, resolved_name) ELSE -1 END AS BIGINT) AS dist
           |FROM j WHERE jaccard >= ${ResolutionOps.JaccardMinSim}
           |ORDER BY dirty_name, resolved_name""".stripMargin
      }),

    // last-touch attribution: each purchase credited to the user's
    // most recent preceding click via ONE conditional-last window —
    // no purchases-x-clicks self-join
    "attribution_last_touch" -> QueryDef(
      (s, d) => EventsOps.attributionLastTouch(Tables.events(s, d)),
      Some(attributionSql)),

    // the streaming form: per-user keyed state carries the latest
    // click across micro-batches AND a checkpointed restart; the
    // time-split staged replay delivers each user's rows in global
    // event order, so the sink is gated by the SAME oracle as the
    // batch window — a lost state store, a dropped micro-batch, or a
    // click that failed to carry across the restart all red the hash
    "streamed_attribution" -> QueryDef(
      (s, d) => {
        val dir = graft.streaming.EventStreams.streamedAttributionLayout(s, d)
        s.read.parquet(dir)
          .select("purchase_id", "user_id", "value", "click_id", "gap_ms", "src")
          .orderBy("purchase_id")
      },
      Some(attributionSql)),

    // linear interpolation over the per-user daily series (nearest
    // edge outside the observed range); daily partial agg first, then
    // one window pass carries the neighbor observations
    "events_interpolate" -> QueryDef(
      (s, d) => EventsOps.interpolateDaily(Tables.events(s, d)),
      Some("""WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(floor(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) * 100.0
             |      / count(*) + 0.5) AS BIGINT) AS o4
             |  FROM events GROUP BY 1, 2),
             |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
             |spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
             |grid AS (SELECT u.user_id, s.day, d.o4,
             |    CAST(date_diff('day', DATE '2024-01-01', s.day) AS DOUBLE) AS dd
             |  FROM spine s CROSS JOIN (SELECT DISTINCT user_id FROM daily) u
             |  LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = s.day),
             |n AS (SELECT *,
             |    last_value(o4 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             |    last_value(CASE WHEN o4 IS NOT NULL THEN dd END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             |    first_value(o4 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             |    first_value(CASE WHEN o4 IS NOT NULL THEN dd END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY day
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
             |  FROM grid)
             |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
             |  CAST(floor(CASE WHEN o4 IS NOT NULL THEN o4
             |    WHEN pv IS NULL THEN nv
             |    WHEN nv IS NULL THEN pv
             |    ELSE pv + (nv - pv) * (dd - pd) / (nd - pd) + 0.5 END) AS BIGINT) AS val_e4,
             |  CASE WHEN o4 IS NOT NULL THEN 'obs' ELSE 'interp' END AS src
             |FROM n ORDER BY user_id, day""".stripMargin)),

    // sequential pattern mining: length-3 event-type path counts via
    // lag x2 — row-local path extraction, |types|^3 result domain
    "event_trigram_paths" -> QueryDef(
      (s, d) => EventsOps.trigramPaths(Tables.events(s, d)),
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
             |w AS (SELECT event_type AS t3,
             |    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS t1,
             |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS t2
             |  FROM e)
             |SELECT t1, t2, t3, count(*) AS n FROM w WHERE t1 IS NOT NULL
             |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3""".stripMargin)),

    // point-in-time (as-of) fact->SCD2 lookup: each order reads the
    // version current at its own epoch — the query the SCD2 history
    // exists to serve; equi-join on the key, validity as a row-local
    // post-filter
    "scd2_point_in_time" -> QueryDef(
      (s, d) => RelationalOps.scd2PointInTime(Tables.customer(s, d), Tables.orders(s, d)),
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
           |      FROM dim d FULL OUTER JOIN batch b ON d.c_custkey = b.c_custkey),
           |hist AS (
           |  SELECT c_custkey, c_mktsegment AS seg, 0 AS valid_from,
           |    CASE WHEN changed THEN 1 END AS valid_to
           |  FROM j WHERE c_mktsegment IS NOT NULL
           |  UNION ALL
           |  SELECT c_custkey, u_seg, 1, NULL FROM j WHERE changed
           |  UNION ALL
           |  SELECT c_custkey, u_seg, 1, NULL FROM j WHERE c_mktsegment IS NULL),
           |o AS (SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
           |        o_orderkey % 2 AS epoch FROM orders)
           |SELECT seg, CAST(epoch AS BIGINT) AS epoch, count(*) AS n_orders,
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS sum_price
           |FROM o JOIN hist USING (c_custkey)
           |WHERE valid_from <= epoch AND (valid_to IS NULL OR valid_to > epoch)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // OPTIMIZE/compaction: the small-files ingest layout rewritten as
    // few shipdate-clustered files; the date-ranged read over the
    // compacted layout must match the raw table exactly — compaction
    // is invisible to readers (file-count/clustering pinned in spec)
    "compacted_scan" -> QueryDef(
      (s, d) => LayoutOps.compactedScan(Tables.lineitem(s, d), d),
      Some(s"""SELECT l_returnflag, count(*) AS n,
             |  ${RelationalOps.RevenueExactSql} AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // rolling DAU/WAU: distinct (user, day) first, then the trailing
    // 7-day distinct via the contribute-forward explode — an
    // equi-aggregation, never a day-range self-join or a
    // single-partition count(distinct) window
    "rolling_active_users" -> QueryDef(
      (s, d) => EventsOps.rollingActiveUsers(Tables.events(s, d)),
      Some("""WITH pairs AS (SELECT DISTINCT user_id,
             |    CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
             |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM pairs GROUP BY day),
             |wau AS (SELECT t.day, count(DISTINCT p.user_id) AS wau
             |  FROM (SELECT DISTINCT day FROM pairs) t JOIN pairs p
             |    ON p.day BETWEEN t.day - 6 AND t.day
             |  GROUP BY t.day)
             |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau
             |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin)),

    // the sketch twin of rolling_active_users: trailing-7-day
    // distinct users per day via the deterministic KMV UDAF — one
    // exchange carrying <=k values per day, the shape that survives
    // when the window's distinct cardinality is too wide to count
    // exactly; bit-reproducible, so hash-gated like the other KMV rows
    "rolling_active_kmv" -> QueryDef(
      (s, d) => EventsOps.rollingActiveKmv(Tables.events(s, d)),
      Some("""WITH pairs AS (SELECT DISTINCT user_id,
             |    CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
             |h AS (SELECT DISTINCT t.day,
             |    (('0x' || substr(md5(p.user_id::VARCHAR), 1, 15))::UBIGINT)::DOUBLE AS h
             |  FROM (SELECT DISTINCT day FROM pairs) t
             |  JOIN pairs p ON p.day BETWEEN t.day - 6 AND t.day),
             |r AS (SELECT day, h,
             |        row_number() OVER (PARTITION BY day ORDER BY h) AS rnk FROM h),
             |t AS (SELECT day, max(h) AS theta, count(*) AS m
             |      FROM r WHERE rnk <= 64 GROUP BY day)
             |SELECT strftime(day, '%Y-%m-%d') AS day,
             |  CAST(CASE WHEN m < 64 THEN m
             |       ELSE round(63.0 / (theta / 1152921504606846976.0)) END AS BIGINT) AS wau_est
             |FROM t ORDER BY day""".stripMargin)),

    // corpus-composition diagnostic: vocabulary Jaccard between every
    // source pair; DISTINCT (word, source) first so the self-join is
    // vocab-bounded with constant |sources| fan-out per word
    "source_vocab_overlap" -> QueryDef(
      (s, d) => TextAnalysisOps.sourceVocabOverlap(Tables.documents(s, d)),
      Some(s"""WITH vocab AS (SELECT DISTINCT source, word FROM (
             |    SELECT source, unnest($toksSql) AS word FROM documents)),
             |sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
             |inter AS (SELECT a.source AS source_a, b.source AS source_b,
             |    count(*) AS n_common
             |  FROM vocab a JOIN vocab b USING (word)
             |  WHERE a.source < b.source GROUP BY 1, 2)
             |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_common,
             |  round(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.source = source_a
             |JOIN sizes sb ON sb.source = source_b
             |ORDER BY source_a, source_b""".stripMargin))
  )
}
