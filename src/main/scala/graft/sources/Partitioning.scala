package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned layout + partition-pruned reads — the OTHER half
  * of the 100 TB read-path story next to [[Bucketing]]: a production
  * corpus is laid out `events/day=YYYY-MM-DD/part-*.parquet`, and a
  * query constrained to a date range must open only the matching
  * directories (partition pruning in the scan), not filter after
  * reading everything. PlanAuditSpec pins that the pruned scan's
  * selected-partition count is the filter's day count, strictly below
  * the table's total.
  */
object Partitioning {

  /** Inclusive day range for [[eventsPartitionPruned]]; the DuckDB
    * oracle is generated from the same constants, so the two sides
    * cannot silently diverge. One week out of the fixture's 30 days —
    * the pruned scan must touch 7 of 30 partition directories.
    */
  val PruneDayFrom = "2024-01-10"
  val PruneDayTo = "2024-01-16"

  /** Write-once date-partitioned copy of `events` under /tmp
    * ([[Fixtures.ensure]] keying: dataset basename + source parquet
    * fingerprint), `day=YYYY-MM-DD/` derived from the nanos `ts` by
    * the events clock's day key ([[graft.Tables.eventDay]], integer
    * ms math, so the oracle's `date_trunc` over TIMESTAMP_NS sees
    * identical day cuts). Returns a reader over the partitioned layout with
    * `day` kept as STRING (partition-column type inference would
    * otherwise make it DATE and the schema engine-dependent).
    */
  def partitionedEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Fixtures.ensure("events_bydate", sfDir,
      Seq(s"$sfDir/events.parquet")) { p =>
      graft.Tables.events(spark, sfDir)
        .withColumn("day", graft.Tables.eventDay)
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(p)
    }
    // explicit schema: the written `ts` is nanos Long and `day` must
    // stay STRING (partition-column type inference would make it DATE
    // and the pruning filter below would sit behind a cast)
    val schema = graft.Tables.events(spark, sfDir).schema
      .add("day", org.apache.spark.sql.types.StringType)
    spark.read.schema(schema).parquet(path)
  }

  /** Per-(day, type) counts and value sums over ONE WEEK of the
    * date-partitioned layout. The `day` predicate is a pure
    * partition-column filter: it resolves against directory names at
    * planning time (7 of 30 directories opened; zero data pages read
    * outside the range) — at 100 TB this is the difference between
    * scanning ~23% of a month and all of it. Everything after the
    * pruned scan is one bounded aggregate exchange.
    */
  def eventsPartitionPruned(spark: SparkSession, sfDir: String): DataFrame =
    partitionedEvents(spark, sfDir)
      .where(col("day") >= PruneDayFrom && col("day") <= PruneDayTo)
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("day", "event_type")

  /** Dim-side value threshold for [[eventsDppJoin]]'s hot-day set;
    * the DuckDB oracle is generated from the same constant.
    */
  val DppHotValue = 0.9

  /** Dynamic-partition-pruning shape over the partitioned layout:
    * per-day event stats restricted to the days that saw a
    * high-value purchase — a dimension only known at RUNTIME, so
    * unlike [[eventsPartitionPruned]]'s literal range the pruning
    * filter is a `dynamicpruning` subquery: Catalyst runs the tiny
    * dim aggregate first and prunes the fact directories with its
    * result (RuntimeFilterSpec pins the mechanism; at 100 TB this is
    * "scan 4 hot days, not the month" without any literal in the
    * query). The dim side derives from the FLAT table, stays
    * |days|-row, and broadcasts.
    */
  def eventsDppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val hotDays = graft.Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase" && col("value") > DppHotValue)
      .select(graft.Tables.eventDay.as("day"))
      .distinct()
    partitionedEvents(spark, sfDir)
      .join(broadcast(hotDays), Seq("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("day")
  }

  /** The day [[eventsDayRestated]] overwrites, and the additive
    * restatement applied to its rows (additive so no new decimal
    * digits appear — the cross-engine round convention).
    */
  val RestateDay = "2024-01-05"
  val RestateDelta = 1000.0

  /** DYNAMIC partition overwrite — the lake restatement surface: the
    * full events table lands date-partitioned, then ONE day's rows
    * are rewritten (value + [[RestateDelta]]) with
    * `partitionOverwriteMode=dynamic`, which replaces only the
    * partition directories the write touches. Under STATIC mode (the
    * default) the same overwrite would TRUNCATE the whole table down
    * to that one day — the oracle sees all 30 days with exactly one
    * restated, so a mode regression reds the gate on row count, not
    * just values. At 100 TB this is how a bad day is re-ingested
    * without rewriting the month.
    */
  def eventsDayRestated(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Fixtures.ensure("events_restated", sfDir,
      Seq(s"$sfDir/events.parquet")) { p =>
      val withDay = graft.Tables.events(spark, sfDir)
        .withColumn("day", graft.Tables.eventDay)
      // Suppress the committer's _SUCCESS marker for the BASE write so
      // a complete-looking fixture can never exist without the
      // restatement: only the second (dynamic) write commits the
      // marker. Deleting the marker after the fact would leave a crash
      // window between the base commit and the delete in which
      // Fixtures.ensure would accept a half-built layout. The option
      // rides the WRITER (per-job hadoop conf), never the shared
      // SparkContext hadoopConfiguration — a session-global toggle
      // would race any concurrent parquet write into losing ITS
      // marker for the duration of this one.
      withDay.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("day").parquet(p)
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(modeKey)
      spark.conf.set(modeKey, "dynamic")
      try
        withDay.where(col("day") === RestateDay)
          .withColumn("value", col("value") + RestateDelta)
          .write.mode("overwrite").partitionBy("day").parquet(p)
      finally prev match {
        case Some(v) => spark.conf.set(modeKey, v)
        case None    => spark.conf.unset(modeKey)
      }
      // partitioned writes leave _SUCCESS at the root already; the
      // second (dynamic) write refreshed it, nothing more to mark
    }
    val schema = graft.Tables.events(spark, sfDir).schema
      .add("day", org.apache.spark.sql.types.StringType)
    spark.read.schema(schema).parquet(path)
  }

  /** Daily rollup over the restated layout (exact cents). The oracle
    * recomputes from the ORIGINAL events with the restatement applied
    * relationally, so it checks both directions: the restated day
    * carries the delta, and every other day is byte-identical (a
    * static-mode truncation or a double restatement both red it).
    */
  def eventsRestatedDaily(spark: SparkSession, sfDir: String): DataFrame =
    eventsDayRestated(spark, sfDir)
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100.0 + 0.5).cast("long")) / 100.0).as("sum_value"))
      .select(col("day"), col("n"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy("day")

  /** Schema-evolution read (`mergeSchema`): generation-1 files carry
    * `(o_orderkey, o_totalprice)`, generation-2 files add
    * `o_orderstatus` — the additive-column migration every long-lived
    * dataset goes through. The merged scan unions the footers'
    * schemas and null-fills the missing column on old files; `gen`
    * itself is a partition column. At 100 TB schema evolution must
    * be a METADATA property of the scan (per-footer reconciliation),
    * never a rewrite of the old files — this is that read path.
    */
  def schemaEvolvedOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Fixtures.ensure("orders_evolved", sfDir,
      Seq(s"$sfDir/orders.parquet")) { p =>
      Fixtures.cleanBuild(p, Seq("_SUCCESS")) {
        val o = graft.Tables.orders(spark, sfDir)
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.parquet(s"$p/gen=1")
        o.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .write.parquet(s"$p/gen=2")
      }
    }
    spark.read.option("mergeSchema", "true")
      .option("basePath", path).parquet(s"$path/gen=1", s"$path/gen=2")
  }

  /** Aggregate over the evolved table: legacy rows surface with the
    * null-filled column mapped to 'LEGACY'. The oracle re-derives
    * generation membership from the key parity, so a merge that
    * dropped either generation's column or rows reds the gate.
    */
  def schemaEvolutionScan(spark: SparkSession, sfDir: String): DataFrame =
    schemaEvolvedOrders(spark, sfDir)
      .groupBy(col("gen"),
        coalesce(col("o_orderstatus"), lit("LEGACY")).as("status"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")) / 100.0).as("revenue"))
      .select(col("gen").cast("long").as("gen"), col("status"), col("n"),
        round(col("revenue"), 2).as("revenue"))
      .orderBy("gen", "status")
}
