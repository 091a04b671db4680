package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT: Z-order (Morton) clustering, the
  * standard lakehouse answer to "my scans filter on two columns but
  * the table can only be sorted by one". Rows are ordered by the
  * bit-interleave of two cell coordinates, so any contiguous z-range
  * constrains BOTH coordinates at once — parquet row-group min/max
  * stats on the coordinate columns then prune a 2-D box query's scan
  * down to the few files whose (x, y) envelope intersects the box,
  * where a single-column sort order can only prune one dimension and
  * reads everything when the box is wide in that dimension.
  *
  * The z-value is a pure unrolled integer expression (32 constant-
  * shift terms, no UDF, no lambda — whole-stage codegen keeps it in
  * the generated loop), mirrored term-for-term by the DuckDB oracle.
  *
  * At 100 TB this is a write-once layout job (the same
  * repartitionByRange + local sort runs per partition batch) and the
  * box-scan benefit compounds: pruning happens at the file listing
  * level before a single byte of data is read.
  */
object LayoutOps {

  /** Bits per dimension in the interleave (cells are 16-bit). */
  val ZBits = 16
  /** Mask extracting a cell coordinate from a key. */
  val CellMask = (1L << ZBits) - 1L
  /** Files in the z-ordered layout — the pruning granularity. */
  val ZFiles = 64

  /** Box-scan bounds: the full x half-range (so an x-sorted layout
    * cannot prune at all) crossed with a narrow y band (which the
    * z-layout prunes hard). */
  val BoxXLo = 0L
  val BoxXHi = 32767L
  val BoxYLo = 8L
  val BoxYHi = 15L

  /** Morton interleave of the low [[ZBits]] bits of `a` (even bit
    * positions) and `b` (odd positions) — 32 unrolled constant-shift
    * terms summed, all integer.
    */
  def zValue(a: Column, b: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .plus(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)

  /** DuckDB mirror of [[zValue]] — the same 32 terms. */
  def zValueSql(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"(((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("(", " + ", ")")

  /** Cell coordinates of a lineitem row: the low 16 bits of partkey
    * (x) and suppkey (y). */
  private def cells(lineitem: DataFrame): DataFrame =
    lineitem.select(
      col("l_partkey").bitwiseAND(lit(CellMask)).as("cx"),
      col("l_suppkey").bitwiseAND(lit(CellMask)).as("cy"),
      col("l_quantity"))

  /** Write-once z-ordered lineitem layout: rows range-partitioned and
    * locally sorted by z-value into [[ZFiles]] files, cell coords
    * stored as columns so parquet min/max stats prune box filters.
    */
  def zLayoutDir(lineitem: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("zorder", sfDir,
      Seq(s"$sfDir/lineitem.parquet"), params = s"b$ZBits f$ZFiles") { dir =>
      cells(lineitem)
        .withColumn("zval", zValue(col("cx"), col("cy")))
        .repartitionByRange(ZFiles, col("zval"))
        .sortWithinPartitions("zval")
        .write.mode("overwrite").parquet(dir)
      ()
    }

  /** 2-D box aggregate over the z-ordered layout: row count, exact
    * quantity sum, and the min/max z-value inside the box (the
    * latter pin the interleave arithmetic cross-engine). The box
    * filter lands on the stored cell columns, so the scan prunes
    * files by their (cx, cy) row-group envelopes.
    */
  def zorderBoxScan(lineitem: DataFrame, sfDir: String): DataFrame = {
    val layout = lineitem.sparkSession.read.parquet(zLayoutDir(lineitem, sfDir))
    layout
      .where(col("cx") >= BoxXLo && col("cx") <= BoxXHi &&
        col("cy") >= BoxYLo && col("cy") <= BoxYHi)
      .agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(col("l_quantity").cast("decimal(18,2)")), lit(0))
          .cast("double").as("sum_qty"),
        coalesce(min(col("zval")), lit(-1L)).as("min_zval"),
        coalesce(max(col("zval")), lit(-1L)).as("max_zval"))
  }

  /** Small-file count the ingest layout fragments into, and the
    * shipdate-clustered file count compaction targets. */
  val SmallFiles = 64
  val CompactedFiles = 4

  /** OPTIMIZE/compaction maintenance: an ingest-fragmented lineitem
    * layout ([[SmallFiles]] unclustered files — the small-files
    * problem every streaming/append sink accumulates) is rewritten as
    * [[CompactedFiles]] files range-clustered and locally sorted by
    * `l_shipdate`, so every file carries a tight shipdate min/max
    * envelope. Both layouts are write-once fixtures; the compacted
    * one declares the fragmented one as its source, so re-ingest
    * invalidates the compaction.
    *
    * == Scale shape ==
    * Compaction is one `repartitionByRange` + local sort — a single
    * shuffle sized by the data, no driver involvement. The payoff is
    * on the read side: date-ranged scans prune to the files whose
    * envelope intersects (row-group stats do the rest), and
    * footer/task count drops by the fan-in factor. At 100 TB this
    * runs per-partition (compact yesterday's files only), never as a
    * full-table rewrite; the per-partition plan is this one.
    */
  def compactedLayoutDir(lineitem: DataFrame, sfDir: String): String = {
    val frag = graft.sources.Fixtures.ensure("smallfiles", sfDir,
      Seq(s"$sfDir/lineitem.parquet"), params = s"n$SmallFiles") { dir =>
      lineitem.select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"),
          col("l_discount"), col("l_returnflag"))
        .repartition(SmallFiles, col("l_orderkey"))
        .write.mode("overwrite").parquet(dir)
      ()
    }
    graft.sources.Fixtures.ensure("compacted", sfDir,
      Seq(frag), params = s"f$CompactedFiles") { dir =>
      lineitem.sparkSession.read.parquet(frag)
        .repartitionByRange(CompactedFiles, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(dir)
      ()
    }
  }

  /** Date-ranged revenue scan over the compacted layout: the filter
    * prunes to the files whose shipdate envelope intersects 1996.
    * Oracle-gated against the raw table — compaction must be
    * invisible to every reader.
    */
  def compactedScan(lineitem: DataFrame, sfDir: String): DataFrame =
    lineitem.sparkSession.read.parquet(compactedLayoutDir(lineitem, sfDir))
      .where(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        RelationalOps.revenueExact.as("revenue"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------
  // Hilbert-curve layout: the Z-order companion with CONNECTED
  // ranges. Same write-once fixture + box-scan discipline; the curve
  // value comes from the native loop expression
  // [[graft.functions.expressions.HilbertIndex]] (the rotation state
  // across levels rules out the closed-form term sum zValue uses).
  // ---------------------------------------------------------------

  /** Bits per dimension of the Hilbert grid (256 x 256 cells). */
  val HBits = 8
  /** Mask extracting a Hilbert cell coordinate. */
  val HCellMask = (1L << HBits) - 1L
  /** Files in the Hilbert-ordered layout. */
  val HFiles = 64

  /** Box bounds: full x range crossed with a narrow y band — the
    * shape a 1-D x-sort cannot prune at all. */
  val HBoxXLo = 0L
  val HBoxXHi = 255L
  val HBoxYLo = 8L
  val HBoxYHi = 15L

  /** Hilbert curve distance of two long cell coordinates. */
  def hValue(a: Column, b: Column): Column =
    GraftColumn(graft.functions.expressions.HilbertIndex(
      GraftColumn.expr(a), GraftColumn.expr(b), HBits))

  private def hCells(lineitem: DataFrame): DataFrame =
    lineitem.select(
      col("l_partkey").bitwiseAND(lit(HCellMask)).as("cx"),
      col("l_suppkey").bitwiseAND(lit(HCellMask)).as("cy"),
      col("l_quantity"))

  /** Write-once Hilbert-clustered lineitem layout ([[HFiles]] files,
    * range-partitioned and locally sorted by curve distance). */
  def hilbertLayoutDir(lineitem: DataFrame, sfDir: String): String = {
    graft.sources.Fixtures.ensure("hilbert", sfDir,
      Seq(s"$sfDir/lineitem.parquet"), params = s"b$HBits f$HFiles") { dir =>
      hCells(lineitem)
        .withColumn("hval", hValue(col("cx"), col("cy")))
        .repartitionByRange(HFiles, col("hval"))
        .sortWithinPartitions("hval")
        .write.mode("overwrite").parquet(dir)
      ()
    }
  }

  /** 2-D box aggregate over the Hilbert layout — row count, exact
    * quantity sum, min/max curve distance inside the box (the min/max
    * pin the whole rotation walk cross-engine, level by level).
    */
  def hilbertBoxScan(lineitem: DataFrame, sfDir: String): DataFrame = {
    val layout =
      lineitem.sparkSession.read.parquet(hilbertLayoutDir(lineitem, sfDir))
    layout
      .where(col("cx") >= HBoxXLo && col("cx") <= HBoxXHi &&
        col("cy") >= HBoxYLo && col("cy") <= HBoxYHi)
      .agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(col("l_quantity").cast("decimal(18,2)")), lit(0))
          .cast("double").as("sum_qty"),
        coalesce(min(col("hval")), lit(-1L)).as("min_hval"),
        coalesce(max(col("hval")), lit(-1L)).as("max_hval"))
  }

  /** DuckDB oracle for [[hilbertBoxScan]]: recompute the cells and
    * the full [[HBits]]-level walk from the raw table via the chained
    * CTE rounds of [[graft.functions.expressions.HilbertIndex.sqlRounds]],
    * then apply the identical box aggregate.
    */
  def hilbertBoxScanSql: String = {
    val (rounds, last) = graft.functions.expressions.HilbertIndex
      .sqlRounds("c0", HBits, Seq("cx", "cy", "l_quantity"))
    s"""WITH c0 AS (SELECT (l_partkey & $HCellMask) AS x,
       |  (l_suppkey & $HCellMask) AS y, 0::BIGINT AS d,
       |  (l_partkey & $HCellMask) AS cx, (l_suppkey & $HCellMask) AS cy,
       |  l_quantity FROM lineitem),
       |$rounds
       |SELECT count(*) AS n_rows,
       |  CAST(coalesce(sum(CAST(l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_qty,
       |  coalesce(min(d), -1)::BIGINT AS min_hval,
       |  coalesce(max(d), -1)::BIGINT AS max_hval
       |FROM $last
       |WHERE cx >= $HBoxXLo AND cx <= $HBoxXHi
       |  AND cy >= $HBoxYLo AND cy <= $HBoxYHi""".stripMargin
  }
}
