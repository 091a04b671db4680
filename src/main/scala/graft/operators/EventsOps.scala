package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stream-shaped analytics over the `events` table (batch plans here;
  * the Structured Streaming variants live in [[graft.streaming]]).
  *
  * Timestamps: `events.ts` arrives as nanos-since-epoch Long (see
  * [[graft.Tables.events]]). All time math is integer (`div`), so the
  * DuckDB oracle (`epoch_ms` over TIMESTAMP_NS) sees identical values
  * — no float rounding, no sub-ms ordering ambiguity.
  */
object EventsOps {

  /** ts (nanos long) -> epoch milliseconds, floor. */
  private def tsMs = expr("ts div 1000000")

  /** Tumbling-hour aggregates per event type. */
  def hourly(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", timestamp_millis(tsMs)).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("hour", "event_type")

  /** Sessionization: a session breaks after `gapMinutes` of user
    * inactivity. Classic lag + cumulative-sum session ids, then
    * per-user session stats. Two exchanges total (both on user_id —
    * the second reuses the partitioning).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapMs = gapMinutes * 60L * 1000L
    // order by the millisecond value (not raw ts): the oracle runs at
    // ms precision, so sub-ms ordering must not influence the result
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms").asc, col("event_id").asc)
    val flagged = events
      .withColumn("ms", tsMs)
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val perSession = flagged
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), (max(col("ms")) - min(col("ms"))).as("span_ms"))
    perSession
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        round(avg(col("n_events")), 4).as("avg_events_per_session"),
        max(col("span_ms")).as("max_span_ms"))
      .orderBy("user_id")
  }

  /** Per-session records at session grain: (user, session start,
    * event count, span). The same lag + cumulative-sum segmentation
    * as [[sessionize]] (whose output is this aggregated one level
    * further, to user grain); kept separate because the session-grain
    * rows are what the STREAMING [[graft.streaming.EventStreams
    * .sessionize]] emits — the equality of the two (stream's closed
    * sessions = these rows minus each user's open tail) is the
    * replay-equivalence proof in StreamingSpec. Same two user_id
    * exchanges, second reuses the first's partitioning.
    */
  def sessionRecords(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapMs = gapMinutes * 60L * 1000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms").asc, col("event_id").asc)
    events
      .withColumn("ms", tsMs)
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(
        min(col("ms")).as("session_start_ms"),
        count(lit(1)).as("n_events"),
        (max(col("ms")) - min(col("ms"))).as("span_ms"))
      .select("user_id", "session_start_ms", "n_events", "span_ms")
      .orderBy("user_id", "session_start_ms")
  }

  /** The SAME session-grain records as [[sessionRecords]], computed
    * by Spark's built-in `session_window` aggregate instead of the
    * lag + cumulative-sum window pair — the engine's native
    * session-merge operator (one merging aggregate exchange on
    * user_id; the formulations pair the way the KMV window/UDAF
    * queries do, and share one DuckDB oracle). Timestamps pass
    * through `timestamp_millis` of the integer ms, so the session
    * cuts land on the identical millisecond grid. Boundary semantics
    * MATCH the lag form's strict cut (diff > gapMs): session windows
    * merge when the next event's start touches the previous window's
    * end (start <= end), so an event at exactly prev+gap stays in
    * the session — EventsSpec pins this on a synthetic exact-gap
    * fixture.
    */
  def sessionRecordsViaSessionWindow(events: DataFrame,
                                     gapMinutes: Int = 30): DataFrame =
    events
      .withColumn("ms", tsMs)
      .groupBy(col("user_id"),
        session_window(timestamp_millis(col("ms")), s"$gapMinutes minutes"))
      .agg(min(col("ms")).as("session_start_ms"),
        count(lit(1)).as("n_events"),
        (max(col("ms")) - min(col("ms"))).as("span_ms"))
      .select("user_id", "session_start_ms", "n_events", "span_ms")
      .orderBy("user_id", "session_start_ms")

  /** 7-day moving average of daily value totals per event type — the
    * time-series smoothing shape. The lag window rides the
    * |types|×|days| DAILY AGGREGATE (the [[graft.operators
    * .RelationalOps.ordersYoy]] pattern), never the event stream:
    * one fact exchange for the daily rollup, then a bounded window
    * whose partitions are |days| rows each. The window input
    * `sum_value` is pre-rounded to 4 decimals so both engines
    * average identical operands over the identical ROWS frame.
    */
  def movingAvgDaily(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events
      .withColumn("day", date_format(date_trunc("day", timestamp_millis(tsMs)), "yyyy-MM-dd"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-(windowDays - 1), 0)
    daily
      .withColumn("ma7", round(avg(col("sum_value")).over(w), 4))
      .orderBy("event_type", "day")
  }

  /** Daily (event_type, day) partial aggregates with EXACT integer
    * cent sums — the mergeable shape [[incrementalDailyCounts]]
    * persists and folds (cents, not double sums: partial-merge must
    * be reorder-proof, and longs are).
    */
  private def dailyPartials(events: DataFrame): DataFrame =
    events
      .withColumn("day", date_format(date_trunc("day", timestamp_millis(tsMs)), "yyyy-MM-dd"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("cents"))

  /** Incremental materialized-view maintenance — the steady-state
    * ETL shape: a persisted daily-rollup MV absorbs an arriving
    * batch WITHOUT rescanning the base table. The base MV (daily
    * partials over the even-`event_id` half, write-once fixture) is
    * read back as parquet; refresh aggregates ONLY the odd-half
    * batch and merges partials (counts and exact cent sums add; the
    * groupBy is over |MV| + |batch-days| rows, never the base
    * events). At 100 TB the MV is partitioned by day and the merge
    * touches only the days the batch lands in — the plan here is
    * that shape minus the partition pruning. The oracle recomputes
    * the rollup from ALL events, so a stale or double-applied MV
    * reds the hash gate (merge(base, batch) == full recompute is
    * exactly the partial-aggregate contract).
    */
  def incrementalDailyCounts(spark: org.apache.spark.sql.SparkSession,
                             sfDir: String): DataFrame = {
    val dir = graft.sources.Fixtures.ensure("dailymv", sfDir,
      Seq(s"$sfDir/events.parquet")) { path =>
      dailyPartials(graft.Tables.events(spark, sfDir)
        .where(col("event_id") % 2 === 0))
        .write.mode("overwrite").parquet(path)
    }
    val mv = spark.read.parquet(dir)
    val batch = dailyPartials(graft.Tables.events(spark, sfDir)
      .where(col("event_id") % 2 === 1))
    mv.unionByName(batch)
      .groupBy("event_type", "day")
      .agg(sum("n").as("n"), sum("cents").as("cents"))
      .select(col("event_type"), col("day"), col("n"),
        round(col("cents") / 100.0, 2).as("sum_value"))
      .orderBy("event_type", "day")
  }

  /** Per-type geometric mean of positive values through the
    * [[graft.functions.AggregatorFunctions.GeoMean]] typed-Aggregator
    * UDAF. The WHERE mirrors the aggregator's positive-only reduce so `n`
    * counts exactly the aggregated rows.
    */
  def geoMeanByType(events: DataFrame): DataFrame =
    events.where(col("value") > 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(graft.functions.AggregatorFunctions.geoMean(col("value")), 4).as("geomean"))
      .orderBy("event_type")

  /** Exponentially weighted moving average over the per-(type, day)
    * daily value series — the time-series smoother whose recurrence
    * (`ewma_t = (1-α)·ewma_{t-1} + α·x_t`, seeded at the first
    * observation) makes it inexpressible as a plain window SUM. The
    * fold runs over an ORDERED window `collect_list` (frame rows
    * arrive in day order) via `aggregate()` — a bounded structure:
    * the list is |days-so-far| per row over the |types|×|days|
    * ROLLUP, never over raw events, so the quadratic prefix cost is
    * capped by the calendar, not the data. α = 0.25 exactly (binary
    * quarter) and the inputs are exact cents/100.0 — both engines
    * execute the identical left fold, so doubles match bit-for-bit
    * before the display round. The DuckDB mirror is `list_reduce`,
    * whose first-element-as-accumulator convention IS the
    * seed-at-first-observation EWMA.
    */
  def ewmaDaily(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("day", date_format(date_trunc("day", timestamp_millis(tsMs)), "yyyy-MM-dd"))
      .groupBy("event_type", "day")
      .agg((sum(floor(col("value") * 100.0 + 0.5).cast("long")) / 100.0).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("xs", collect_list(col("x")).over(w))
      .select(col("event_type"), col("day"), round(col("x"), 2).as("sum_value"),
        round(expr(
          "aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1), (acc, v) -> acc * 0.75 + v * 0.25)"),
          4).as("ewma"))
      .orderBy("event_type", "day")
  }

  /** Holt double-exponential smoothing (level + trend) over the
    * per-(type, day) daily value series — the forecasting primitive
    * on top of [[ewmaDaily]]'s single-smoothing: `l_t = α·x_t +
    * (1−α)·(l_{t−1} + b_{t−1})`, `b_t = β·(l_t − l_{t−1}) +
    * (1−β)·b_{t−1}`, seeded `l_1 = x_1, b_1 = 0`, one-step forecast
    * `l_t + b_t`. α = 0.5 and β = 0.25 are binary-exact, inputs are
    * exact cents/100.0, and each row folds its ordered prefix with a
    * STRUCT accumulator (the EWMA pattern lifted to 2-component
    * state), so the doubles are deterministic bit-for-bit.
    *
    * The DuckDB mirror is a recursive CTE over the per-type day
    * index running the identical op sequence — NOT `list_reduce`,
    * whose struct accumulator updates fields SEQUENTIALLY (the `b`
    * expression would see the already-overwritten `l`; measured, not
    * speculated). Cost shape: the prefix fold is |days-so-far| per
    * row over the |types|×|days| rollup — capped by the calendar,
    * never the event volume, exactly like the EWMA.
    */
  def holtDaily(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("day", date_format(date_trunc("day", timestamp_millis(tsMs)), "yyyy-MM-dd"))
      .groupBy("event_type", "day")
      .agg((sum(floor(col("value") * 100.0 + 0.5).cast("long")) / 100.0).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("xs", collect_list(col("x")).over(w))
      .withColumn("hw", expr(
        """aggregate(slice(xs, 2, size(xs) - 1),
          |  named_struct('l', element_at(xs, 1), 'b', 0.0D),
          |  (acc, v) -> named_struct(
          |    'l', v * 0.5 + (acc.l + acc.b) * 0.5,
          |    'b', (v * 0.5 + (acc.l + acc.b) * 0.5 - acc.l) * 0.25
          |         + acc.b * 0.75))""".stripMargin))
      .select(col("event_type"), col("day"), round(col("x"), 2).as("sum_value"),
        round(col("hw.l"), 4).as("level"),
        round(col("hw.b"), 4).as("trend"),
        round(col("hw.l") + col("hw.b"), 4).as("forecast_next"))
      .orderBy("event_type", "day")
  }

  /** Holt-Winters triple-exponential smoothing (level + trend +
    * additive 7-slot season) over the per-(type, day) series — the
    * seasonal step [[holtDaily]] stops short of. Recurrence (α = 0.5,
    * β = γ = 0.25, all binary-exact):
    * `l_t = α·(x_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})`,
    * `b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}`,
    * `s_t = γ·(x_t − l_t) + (1−γ)·s_{t−m}`, one-step forecast
    * `l_t + b_t + s_{t+1−m}`. Seeding is CAUSAL: `l_1 = x_1, b_1 = 0`
    * and all seven seasonal slots start at 0 and are learned as their
    * slot recurs — no init pass over a "first full season" that would
    * read future rows. Slots rotate over the OBSERVED per-type day
    * sequence (slot = (row − 1) mod 7; on the fixture's dense daily
    * spine that is exactly the weekday), so a gap shifts phase rather
    * than erroring — the documented contract.
    *
    * Mechanics: the same calendar-bounded ordered-prefix fold as
    * [[holtDaily]], with the accumulator widened to
    * (l, b, s: array[7]) and the fold input zip-with-indexed so each
    * step knows its slot; the seasonal array is updated functionally
    * (`transform` rewriting one position). The DuckDB mirror is the
    * same recursive CTE carrying a LIST column (NOT list_reduce — its
    * struct accumulator updates fields sequentially, the measured
    * r16 lesson). Cost: |days|² per type worst case, capped by the
    * calendar, never event volume.
    */
  def holtWintersDaily(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("day", date_format(date_trunc("day", timestamp_millis(tsMs)), "yyyy-MM-dd"))
      .groupBy("event_type", "day")
      .agg((sum(floor(col("value") * 100.0 + 0.5).cast("long")) / 100.0).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // l' appears inside b' and s'; SQL lambdas cannot bind a local, so
    // the expression repeats VERBATIM — identical op sequence on both
    // engines, the bit-determinism requirement
    val lNext = "(e.x - element_at(acc.s, (e.k % 7) + 1)) * 0.5 + (acc.l + acc.b) * 0.5"
    daily
      .withColumn("xs", collect_list(col("x")).over(w))
      .withColumn("xi", expr("transform(xs, (v, k) -> named_struct('x', v, 'k', k))"))
      .withColumn("hw", expr(
        s"""aggregate(slice(xi, 2, size(xi) - 1),
           |  named_struct('l', element_at(xs, 1), 'b', 0.0D,
           |    's', array_repeat(0.0D, 7)),
           |  (acc, e) -> named_struct(
           |    'l', $lNext,
           |    'b', ($lNext - acc.l) * 0.25 + acc.b * 0.75,
           |    's', transform(acc.s, (sv, j) -> IF(j = e.k % 7,
           |      (e.x - ($lNext)) * 0.25
           |        + element_at(acc.s, (e.k % 7) + 1) * 0.75,
           |      sv))))""".stripMargin))
      .select(col("event_type"), col("day"), round(col("x"), 2).as("sum_value"),
        round(col("hw.l"), 4).as("level"),
        round(col("hw.b"), 4).as("trend"),
        round(element_at(col("hw.s"),
          (pmod(size(col("xs")) - 1, lit(7)) + 1)), 4).as("season"),
        round(col("hw.l") + col("hw.b") + element_at(col("hw.s"),
          (pmod(size(col("xs")), lit(7)) + 1)), 4).as("forecast_next"))
      .orderBy("event_type", "day")
  }

  /** Robust outlier counts per event type: median / MAD (median
    * absolute deviation) over exact integer cents, flagging events
    * beyond `3 × MAD`. Exact `percentile(0.5)` is used on BOTH
    * aggregation levels — its buffer is bounded by the DISTINCT cent
    * values per type (a price-like domain, not data volume), which
    * is the documented condition for exact medians at scale; an
    * unbounded-domain deployment would swap in a quantile sketch
    * (`lineitem_hist_quantiles` is that surface). The interpolated
    * even-count midpoint is exact in binary (`x.0` or `x.5`), so
    * every comparison and the final counts are reproducible
    * cross-engine with zero tolerance.
    */
  def madOutliers(events: DataFrame): DataFrame = {
    val cents = events.select(col("event_type"),
      floor(col("value") * 100.0 + 0.5).cast("long").as("c"))
    val med = cents.groupBy("event_type")
      .agg(expr("percentile(c, 0.5)").as("med"))
    val dev = cents.join(med, Seq("event_type"))
      .select(col("event_type"), col("c"), col("med"),
        abs(col("c") - col("med")).as("adev"))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(mad, Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("med") / 100.0).as("median_value"),
        min(col("mad") / 100.0).as("mad_value"),
        sum(when(col("adev") > col("mad") * 3.0, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** JSON property extraction + aggregation: average of `props.$.k`
    * per event type. The engine path uses `get_json_object`.
    */
  def jsonProps(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(avg(col("k")), 4).as("avg_k"))
      .orderBy("event_type")

  /** VARIANT-typed semi-structured extraction — Spark 4's
    * `parse_json` → `variant_get` path, the schema-on-read surface
    * that replaces per-field regex/`get_json_object` walks (compare
    * [[jsonProps]]): `props` parses ONCE to a VARIANT and every field
    * access is a typed path over the binary encoding, so adding an
    * extracted field costs no extra JSON parse — the property that
    * matters when a 100 TB corpus carries wide semi-structured
    * payloads. A second variant is built row-locally from typed
    * columns (`to_json` → `parse_json`) to pin the typed round-trip:
    * long, double and array-index paths all come back exactly
    * (shortest-round-trip JSON numbers re-parse to the same IEEE
    * value). `try_variant_get` on a missing path yields NULL rather
    * than a per-row error — `n_absent` (constant 0) pins that.
    */
  def variantProps(events: DataFrame): DataFrame = {
    val v = parse_json(col("props"))
    val nested = parse_json(to_json(struct(
      col("user_id").as("u"),
      array(col("value"), col("value") * 2).as("vals"))))
    events
      .select(col("event_type"),
        variant_get(v, "$.k", "bigint").as("k"),
        variant_get(nested, "$.u", "bigint").as("u"),
        variant_get(nested, "$.vals[1]", "double").as("x2"),
        try_variant_get(v, "$.absent", "bigint").as("absent"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        max("u").as("max_u"),
        round(sum("x2"), 4).as("sum_x2"),
        count(col("absent")).as("n_absent"))
      .orderBy("event_type")
  }

  /** Exact `count(DISTINCT user_id)` per event type via two-stage
    * salted aggregation: stage 1 dedups within (type, hash-bucket),
    * stage 2 sums bucket cardinalities. Same answer as a direct
    * countDistinct, but the first exchange spreads a hot grouping key
    * over `buckets` partitions — the standard skew-mitigation shape
    * when one key dominates at cluster scale.
    */
  def distinctUsersSalted(events: DataFrame, buckets: Int = 16): DataFrame =
    events
      .select(col("event_type"), col("user_id"),
        pmod(hash(col("user_id")), lit(buckets)).as("salt"))
      .groupBy("event_type", "salt")
      .agg(countDistinct(col("user_id")).as("part"))
      .groupBy("event_type")
      .agg(sum("part").as("n_users"))
      .orderBy("event_type")

  /** As-of join (the classic time-series operator Spark lacks as a
    * primitive, composed from window functions): every purchase event
    * is joined to the same user's most recent *strictly prior* click.
    * One exchange on user_id; `last(ignoreNulls)` over an ordered
    * window with an `UNBOUNDED PRECEDING .. 1 PRECEDING` frame is the
    * as-of backward lookup.
    */
  def asofPurchaseClick(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("ms", tsMs)
      .withColumn("click_ms",
        when(col("event_type") === "click", col("ms")))
      .withColumn("last_click_ms", last(col("click_ms"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ms").as("purchase_ms"),
        col("last_click_ms"),
        (col("ms") - col("last_click_ms")).as("gap_ms"))
      .orderBy("event_id")
  }

  /** CUBE over (event_type, day): all grouping-set combinations with
    * coalesced 'ALL' labels.
    */
  def cubeDaily(events: DataFrame): DataFrame =
    events
      .withColumn("day", date_format(date_trunc("day", timestamp_millis(tsMs)), "yyyy-MM-dd"))
      .cube("event_type", "day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("n"), col("sum_value"))
      .orderBy("event_type", "day")

  /** Explicit GROUPING SETS — the general form CUBE/ROLLUP are sugar
    * for: per-type totals, per-day totals, and the grand total, but
    * NOT the (type, day) cross — one Expand + one aggregate exchange,
    * producing strictly fewer intermediate rows than a cube that
    * computes the cross only to throw it away.
    */
  def groupingSetsDaily(events: DataFrame): DataFrame =
    events
      .withColumn("day", date_format(date_trunc("day", timestamp_millis(tsMs)), "yyyy-MM-dd"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("day")), Seq()),
        col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("n"), col("sum_value"))
      .orderBy("event_type", "day")

  /** Sketch aggregation: HyperLogLog++ approximate distinct users per
    * type. Implementation-specific values — no SQL oracle; the test
    * bounds the error against the exact count.
    */
  def approxDistinctUsers(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .orderBy("event_type")

  /** Approximate distinct USERS per event type via the deterministic
    * KMV sketch (the [[kmvDistinctEventsAgg]] shape keyed on user_id
    * instead of event_id): md5-hash the user ids, fold into the
    * k-bounded [[graft.functions.expressions.KmvDistinctEstimate]]
    * buffer — ONE exchange carrying at most k values per (group, map
    * task). Same estimator quality class as the HLL form
    * ([[approxDistinctUsers]], rsd ≈ 1/√(k-2) at this k) but every
    * bit reproducible in any engine, so this sketch is hash-gated by
    * the DuckDB oracle rather than rows-only.
    */
  def kmvDistinctUsers(events: DataFrame, k: Int = 64): DataFrame = {
    events
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("double").as("h"))
      .groupBy("event_type")
      .agg(graft.functions.SketchFunctions.kmvEst(col("h"), k).as("approx_users"))
      .orderBy("event_type")
  }

  /** KMV (k-minimum-values) distinct-count sketch per event type —
    * the DETERMINISTIC sketch: hash event ids with md5 (full 60-bit
    * values, reproducible in any engine), keep the k smallest
    * DISTINCT hashes per group (WindowGroupLimit bounds the shuffle
    * to k rows per group regardless of cardinality), and estimate
    * n ≈ (k-1) / θ where θ is the k-th smallest normalized hash.
    * Groups with fewer than k distinct keys report exactly. Same
    * estimator quality class as HLL at this k (rsd ≈ 1/√(k-2)), but
    * every bit is reproducible, so this sketch IS oracle-checkable —
    * the hash-gated companion to the rows-only HLL query. Keyed on
    * event_id (thousands per type in the fixture) so the estimator
    * branch, not the exact fallback, is what the gate exercises.
    */
  def kmvDistinctEvents(events: DataFrame, k: Int = 64): DataFrame = {
    val maxHash = math.pow(2.0, 60).toDouble
    val hashed = events.select(col("event_type"),
        conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
          .cast("double").as("h"))
      .distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    hashed
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .groupBy("event_type")
      .agg(max(col("h")).as("theta"), count(lit(1)).as("m"))
      .select(col("event_type"),
        when(col("m") < k, col("m"))
          .otherwise(round(lit((k - 1).toDouble) / (col("theta") / maxHash)))
          .cast("long").as("est_events"))
      .orderBy("event_type")
  }

  /** The same KMV estimate as [[kmvDistinctEvents]], computed by the
    * custom [[graft.functions.expressions.KmvDistinctEstimate]]
    * aggregate (the engine's UDAF surface): dedup folds into the
    * k-bounded buffer, so the plan is ONE ObjectHashAggregate
    * partial/final pair around a single exchange carrying at most k
    * values per (group, map task) — vs the window formulation's
    * distinct exchange + window exchange. Bit-identical result, same
    * DuckDB oracle.
    */
  def kmvDistinctEventsAgg(events: DataFrame, k: Int = 64): DataFrame = {
    events
      .select(col("event_type"),
        conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
          .cast("double").as("h"))
      .groupBy("event_type")
      .agg(graft.functions.SketchFunctions.kmvEst(col("h"), k).as("est_events"))
      .orderBy("event_type")
  }

  /** Ordered conversion funnel view -> click -> purchase: a user
    * converts at stage k only with an event at stage k AFTER their
    * first stage-(k-1) conversion time (strict event-order funnel,
    * not mere set membership). All three stage times are chained
    * unbounded-frame window minimums over the SAME user_id
    * partitioning, so the whole funnel is ONE scan + ONE exchange (a
    * join formulation re-scans the event table once per stage); the
    * per-user groupBy after the windows rides the window's
    * partitioning with no further shuffle, and only 1-row partials
    * reach the final aggregate. Hot-user skew serializes that user's
    * window group — the sessionize caveat, audited in SkewSpec.
    */
  def funnel(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = events
      .select(col("user_id"), col("event_type"), tsMs.as("ms"))
      .withColumn("v_ms",
        min(when(col("event_type") === "view", col("ms"))).over(w))
      .withColumn("c_ms",
        min(when(col("event_type") === "click" && col("ms") >= col("v_ms"),
          col("ms"))).over(w))
      .withColumn("p_ms",
        min(when(col("event_type") === "purchase" && col("ms") >= col("c_ms"),
          col("ms"))).over(w))
    staged
      .groupBy("user_id")
      .agg(max("v_ms").as("v_ms"), max("c_ms").as("c_ms"),
        max("p_ms").as("p_ms"))
      .agg(
        sum(when(col("v_ms").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("c_ms").isNotNull, 1L).otherwise(0L)).as("n_view_click"),
        sum(when(col("p_ms").isNotNull, 1L).otherwise(0L)).as("n_full_funnel"))
  }

  /** Cohort retention: cohort = a user's first active day; report
    * distinct active users per (cohort_day, day offset). The
    * (user, day) pairs are deduplicated FIRST, so the later stages
    * count rows instead of running count-distinct, and every exchange
    * is on user_id until the final bounded (cohort, offset) aggregate
    * — the classic shape that survives 100 TB because days-per-user,
    * not events-per-user, is what flows past the first dedup.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"),
        to_date(timestamp_millis(tsMs)).as("day"))
      .distinct()
    val first = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(first, "user_id")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("offset_days"))
      .groupBy("cohort_day", "offset_days")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  /** Z-score outlier detection: flag events whose value sits more
    * than `threshold` sample standard deviations from their event
    * type's mean. The per-type moment table is |event types| rows —
    * broadcast — so scoring is row-local against it and the corpus
    * never shuffles. The filter compares the ROUNDED z on both
    * engines, keeping the row set as order-insensitive as the values.
    */
  /** Outlier threshold for [[zscoreOutliers]]; the DuckDB oracle is
    * generated from the same constant.
    */
  val ZscoreThreshold = 3

  def zscoreOutliers(events: DataFrame,
                     threshold: Double = ZscoreThreshold.toDouble): DataFrame = {
    val stats = events.groupBy("event_type")
      .agg(avg("value").as("mean_v"), stddev_samp("value").as("sd_v"))
    events
      .join(broadcast(stats), "event_type")
      .withColumn("z", round((col("value") - col("mean_v")) / col("sd_v"), 4))
      .where(abs(col("z")) > threshold)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"), col("z"))
      .orderBy("event_id")
  }

  /** First-order Markov transition counts over each user's event
    * sequence: (event_type -> next event_type) pairs via a lead
    * window ordered by (ms, event_id) — the same deterministic
    * per-user ordering sessionize uses — then one bounded aggregate
    * (|types|² groups). One user_id exchange total; the sequence
    * never leaves its partition.
    */
  def userTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"), col("event_type"), tsMs.as("ms"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Top-10 purchasing users by total purchase value. */
  def topUsers(events: DataFrame, k: Int = 10): DataFrame =
    events
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(round(sum("value"), 4).as("total_value"), count(lit(1)).as("n_purchases"))
      .orderBy(desc("total_value"), asc("user_id"))
      .limit(k)

  /** Daily rollup with gap filling: the complete (event_type, day)
    * grid over the stream's [min_day, max_day] span, zero-filled
    * where a type logged nothing — the resample/date-spine shape
    * every time-series pipeline needs (a plain groupBy silently
    * DROPS empty days, which corrupts moving averages and
    * day-over-day rates downstream). The spine is
    * sequence(min, max) exploded from a 1-row bounds aggregate ×
    * the distinct types (both model-table-sized, broadcast), LEFT
    * joined by the daily rollup. The rollup is referenced THREE
    * times (bounds, types, values) — left lazy, Catalyst would
    * re-derive the corpus scan+aggregate per reference (the
    * measured q15 subtree trap, ×3) — so it truncates through
    * [[Checkpoints.truncate]] first: a |types|×|days|
    * materialization, after which the fact table has been scanned
    * exactly once and the grid never touches it. Trade-offs accepted
    * deliberately: truncation is EAGER (the corpus job runs at
    * plan-build time — Bench times build + action together, so
    * nothing escapes measurement), and in the default local mode
    * blocks live on executors only; on a real cluster set
    * `graft.checkpoint.dir` to flip every truncation point to
    * reliable `checkpoint()`.
    */
  def dailyGapfill(events: DataFrame): DataFrame = {
    val daily = Checkpoints.truncate(events
      .withColumn("day", to_date(date_trunc("day", timestamp_millis(tsMs))))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value")))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val types = daily.select("event_type").distinct()
    spine.crossJoin(types)
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("event_type", "day")
  }

  /** Multiple DISTINCT aggregates in one pass: per event type, the
    * distinct-user and distinct-active-day counts plus the plain row
    * count. Catalyst plans this with ONE Expand (each row replicated
    * once per distinct column set, null-padded) feeding a two-level
    * aggregate — one subtree, not one corpus scan per DISTINCT
    * (plan-pinned). The 100 TB trade: Expand multiplies the exchange
    * payload by the number of distinct specs, the price of keeping a
    * single pass; independent sketches (KMV/HLL per column) are the
    * approximate escape when even that is too wide.
    */
  def multiDistinct(events: DataFrame): DataFrame =
    events
      .withColumn("day", date_format(date_trunc("day", timestamp_millis(tsMs)), "yyyy-MM-dd"))
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("day")).as("n_days"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Last-touch attribution: each purchase is credited to the same
    * user's most recent PRECEDING click (marketing's default model).
    * One window per user — `last(_, ignoreNulls)` over the rows
    * strictly before the purchase picks the click; purchases with no
    * prior click stay unattributed (`click_id` null, src 'organic').
    *
    * == Scale shape ==
    * A single exchange on user_id; the conditional-last window is one
    * linear pass per user partition (no self-join of purchases
    * against clicks, which would shuffle the fact table twice and
    * build an O(purchases × clicks) intermediate under skew).
    */
  def attributionLastTouch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("ms", tsMs)
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ms",
        last(when(col("event_type") === "click", col("ms")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("value"), col("click_id"),
        (col("ms") - col("click_ms")).as("gap_ms"),
        when(col("click_id").isNotNull, "click").otherwise("organic").as("src"))
      .orderBy("purchase_id")
  }

  /** Linear interpolation over the per-user daily series: days where
    * a user has no events take the straight line between the nearest
    * observed days (clamped to the nearest edge outside the observed
    * range). The time-series fill every feature pipeline needs next
    * to [[dailyGapfill]]'s zero-fill.
    *
    * == Scale shape ==
    * Daily partial agg first (the fact table collapses to user × day
    * before anything else), then ONE window partitioning on user_id
    * carries (day, value) of the previous/next observation along the
    * spine — no self-join of the spine against observations per gap.
    * Spine explosion is row-local from a 1-row bounds aggregate.
    */
  def interpolateDaily(events: DataFrame): DataFrame = {
    // exact integer arithmetic end-to-end: values are cents-precise,
    // so the daily mean is sum(cents)*100/n — identical IEEE division
    // on identical integers in both engines. round(avg(double), 4)
    // red-flagged at sf0.1 on a genuine .xxxx5 tie (Spark HALF_UP vs
    // DuckDB's double rounding); this form has no such tie hazard.
    val daily = Checkpoints.truncate(events
      .withColumn("day", to_date(date_trunc("day", timestamp_millis(tsMs))))
      .groupBy("user_id", "day")
      .agg(floor(sum(floor(col("value") * 100 + lit(0.5))) * lit(100.0) /
        count(lit(1)) + lit(0.5)).cast("long").as("o4")))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val users = daily.select("user_id").distinct()
    val grid = spine.crossJoin(users)
      .join(daily, Seq("user_id", "day"), "left")
      .withColumn("d", datediff(col("day"), lit("2024-01-01")).cast("double"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
      .rowsBetween(0, Window.unboundedFollowing)
    // interpolation stays in e4 integer space: floor(x + 0.5) over
    // integer-valued doubles is bit-exact in both engines, so
    // `val_e4` carries zero cross-engine tolerance
    grid
      .withColumn("pv", last(col("o4"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when(col("o4").isNotNull, col("d")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("o4"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("o4").isNotNull, col("d")), ignoreNulls = true).over(wNext))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        floor(
          when(col("o4").isNotNull, col("o4"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (col("d") - col("pd")) / (col("nd") - col("pd")) + lit(0.5)))
          .cast("long").as("val_e4"),
        when(col("o4").isNotNull, "obs").otherwise("interp").as("src"))
      .orderBy("user_id", "day")
  }

  /** Rolling engagement: per day, DAU (distinct users that day) and
    * WAU (distinct users over the trailing 7 days ending that day).
    *
    * == Scale shape ==
    * The fact table collapses to DISTINCT (user, day) first — one
    * hash agg, after which everything is calendar-bounded. The
    * trailing window is computed by the CONTRIBUTE-FORWARD trick:
    * each (user, day) explodes to the constant 7 target days it is
    * visible to, then one distinct count per target day. That keeps
    * it an equi-aggregation — no day-range self-join, and definitely
    * no `count(distinct) OVER` (which single-partitions in most
    * engines). 100 TB cost: two hash aggs over |users|×|days| rows.
    */
  def rollingActiveUsers(events: DataFrame): DataFrame = {
    val pairs = Checkpoints.truncate(events
      .select(col("user_id"),
        to_date(date_trunc("day", timestamp_millis(tsMs))).as("day"))
      .distinct())
    val maxDay = pairs.agg(max(col("day")).as("d1"))
    val dau = pairs.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = pairs
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .join(broadcast(maxDay), col("day") <= col("d1"))
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    // target days earlier than day 7 see a partial trailing window —
    // kept (the standard dashboard convention), pinned by the oracle
    dau.join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"))
      .orderBy("day")
  }

  /** [[rollingActiveUsers]]'s sketch twin: the trailing-7-day
    * distinct-user count per day estimated with the deterministic
    * KMV sketch instead of the exact distinct. Same contribute-
    * forward explode, but the per-day aggregate is the mergeable
    * k-minimum-values UDAF — ONE exchange carrying ≤k values per
    * day, which is the shape that survives when the window's
    * distinct cardinality itself is too wide to count exactly (the
    * exact form's partial aggregation still carries every distinct
    * user per day). Every bit reproducible → hash-gated like the
    * other KMV rows.
    */
  def rollingActiveKmv(events: DataFrame, k: Int = 64): DataFrame = {
    val pairs = Checkpoints.truncate(events
      .select(col("user_id"),
        to_date(date_trunc("day", timestamp_millis(tsMs))).as("day"))
      .distinct())
    val activeDays = pairs.select("day").distinct()
    pairs
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .join(activeDays, Seq("day"))
      .select(col("day"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("double").as("h"))
      .groupBy("day")
      .agg(graft.functions.SketchFunctions.kmvEst(col("h"), k).as("wau_est"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("wau_est"))
      .orderBy("day")
  }

  /** Event-path mining: the frequency of every length-3 event-type
    * path users walk (sequential pattern mining's workhorse query —
    * "what do users do right before an error?"). lag×2 over one
    * user window turns path extraction into a row-local projection;
    * the result domain is |types|³, constant regardless of volume.
    */
  def trigramPaths(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    events
      .withColumn("ms", tsMs)
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .where(col("t1").isNotNull)
      .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("t1"), col("t2"), col("t3"))
  }
}
