package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LayoutOps, PipelineOps}

/** Round-15 wave C: Hilbert-curve layout and weighted priority
  * sampling. Pins (1) the native loop expression against a
  * driver-side reference walk over the FULL grid, (2) the property
  * that justifies Hilbert next to Z-order — consecutive curve cells
  * are always Manhattan-adjacent, so contiguous ranges are connected
  * regions — (3) the layout's actual file skipping, and (4) the
  * priority sample's physical shape (WindowGroupLimit trims per map
  * partition before the exchange) and its estimator's exact-on-small-
  * groups degradation.
  */
class Round15WaveCSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def q(name: String): DataFrame =
    Queries.queries(name)(spark, TestSpark.Sf0001)

  /** Driver-side reference xy2d walk (same public algorithm). */
  private def refH(x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (LayoutOps.HBits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("hValue matches the reference walk and is a bijection on the grid") {
    val n = 1L << LayoutOps.HBits
    val grid = spark.range(n * n)
      .select((col("id") / n).cast("long").as("x"),
        pmod(col("id"), lit(n)).as("y"))
    val got = grid
      .select(col("x"), col("y"),
        LayoutOps.hValue(col("x"), col("y")).as("d"))
      .as[(Long, Long, Long)].collect()
    // codegen path agrees with the driver-side reference, cell by cell
    got.foreach { case (x, y, d) =>
      assert(d === refH(x, y), s"hilbert($x, $y)")
    }
    // and the curve visits every cell exactly once
    val ds = got.map(_._3)
    assert(ds.min === 0L && ds.max === n * n - 1)
    assert(ds.distinct.length === got.length)
  }

  test("consecutive curve cells are Manhattan-adjacent (connected ranges)") {
    val n = 1L << LayoutOps.HBits
    val byD = new Array[(Long, Long)]((n * n).toInt)
    var x = 0L
    while (x < n) {
      var y = 0L
      while (y < n) { byD(refH(x, y).toInt) = (x, y); y += 1 }
      x += 1
    }
    (1 until (n * n).toInt).foreach { d =>
      val (ax, ay) = byD(d - 1)
      val (bx, by) = byD(d)
      assert(math.abs(ax - bx) + math.abs(ay - by) === 1,
        s"curve jumps between d=${d - 1} ($ax,$ay) and d=$d ($bx,$by)")
    }
  }

  test("the Hilbert box scan prunes: fewer rows scanned than the table") {
    val li = Tables.lineitem(spark, TestSpark.Sf0001)
    val dir = LayoutOps.hilbertLayoutDir(li, TestSpark.Sf0001)
    val boxFilter =
      col("cx").between(LayoutOps.HBoxXLo, LayoutOps.HBoxXHi) &&
        col("cy").between(LayoutOps.HBoxYLo, LayoutOps.HBoxYHi)
    val scan = spark.read.parquet(dir).where(boxFilter)
    scan.collect()
    val read = scan.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.metrics("numOutputRows").value).sum
    val total = li.count()
    assert(read * 2 <= total,
      s"expected >=2x row-group skipping: read $read of $total")
    // and the layout is lossless: box membership matches the raw table
    val expected = li.where(
      col("l_partkey").bitwiseAND(lit(LayoutOps.HCellMask))
        .between(LayoutOps.HBoxXLo, LayoutOps.HBoxXHi) &&
        col("l_suppkey").bitwiseAND(lit(LayoutOps.HCellMask))
          .between(LayoutOps.HBoxYLo, LayoutOps.HBoxYHi)).count()
    assert(spark.read.parquet(dir).where(boxFilter).count() === expected)
  }

  test("Hilbert files carry tighter 2-D envelopes than Z-order on the same data") {
    // The quantitative form of the operator's reason to exist: split
    // the same full grid into the same number of equal curve-range
    // files; the per-file (x, y) bounding-box area — what parquet
    // min/max stats expose to a box filter — should total LESS under
    // the Hilbert order, whose ranges are connected regions, than
    // under Z-order, whose ranges periodically straddle diagonal
    // jumps. Full 256x256 grid split into 50 files — deliberately NOT
    // a 4^k-aligned split (aligned ranges of size 4^k are perfect
    // tiles under BOTH curves, which is what repartitionByRange's
    // arbitrary boundaries never give you).
    val n = 1 << LayoutOps.HBits
    val files = 50
    val per = (n * n + files - 1) / files
    def refZ(a: Long, b: Long): Long =
      (0 until LayoutOps.HBits).map { i =>
        (((a >> i) & 1L) << (2 * i)) + (((b >> i) & 1L) << (2 * i + 1))
      }.sum
    def envelopeArea(key: (Long, Long) => Long): Long = {
      val cells = for (x <- 0L until n; y <- 0L until n) yield (key(x, y), x, y)
      cells.sortBy(_._1).grouped(per).map { file =>
        val xs = file.map(_._2); val ys = file.map(_._3)
        (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
      }.sum
    }
    val hilbert = envelopeArea(refH)
    val zorder = envelopeArea(refZ)
    assert(hilbert < zorder,
      s"hilbert envelope total $hilbert vs z-order $zorder")
  }

  test("priority sample: K rows per source, rank pre-trimmed by WindowGroupLimit") {
    val df = q("priority_sample_weighted")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rnk<=K must trim per map partition before the source exchange")
    val rows = df.collect()
    val bySource = rows.groupBy(_.getString(0))
    bySource.foreach { case (src, rs) =>
      assert(rs.length === PipelineOps.PrioK, s"source $src")
      // ranks are 1..K and priorities non-increasing in rank order
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (1 to PipelineOps.PrioK))
      val prios = sorted.map(_.getDouble(4))
      assert(prios.zip(prios.tail).forall { case (a, b) => a >= b })
    }
  }

  test("priority estimator is EXACT when a group has <= K documents") {
    val docs = Seq(
      (1L, "small", 100L), (2L, "small", 250L), (3L, "small", 40L),
      (4L, "big", 10L), (5L, "big", 20L), (6L, "big", 30L),
      (7L, "big", 40L), (8L, "big", 50L), (9L, "big", 60L),
      (10L, "big", 70L), (11L, "big", 80L))
      .toDF("doc_id", "source", "n_chars")
    val est = PipelineOps.prioritySampleEstimate(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    // 3 docs <= K=5: tau is absent, every contribution is w itself
    assert(est("small")._1 === 390L)
    assert(est("small")._2 === 390L * 1000000L)
    // 8 docs > K: the estimate uses tau and need not equal the truth,
    // but it is positive and at least the sampled weights' floor
    assert(est("big")._1 === 360L)
    assert(est("big")._2 >= 0L)
  }

  test("streamed priority fold == batch sample, across >= 2 real micro-batches") {
    val stateRoot =
      graft.streaming.EventStreams.streamedPrioLayout(spark, TestSpark.Sf0001)
    val v = graft.streaming.EventStreams.latestCdcVersion(stateRoot)
    // v0 seed + one committed version per micro-batch (two source files)
    assert(v >= 2L, s"expected >= 2 folded versions, got v$v")
    val streamed = PipelineOps.prioritySampleFromState(
      spark.read.parquet(s"$stateRoot/v$v")).collect().toSeq
    val batch = q("priority_sample_weighted").collect().toSeq
    assert(streamed === batch)
  }

  test("priority estimate lands inside a sane band of the truth at sf0.001") {
    q("priority_sample_estimate").collect().foreach { r =>
      val truth = r.getLong(2).toDouble
      val est = r.getLong(3).toDouble / 1e6
      assert(est > truth * 0.1 && est < truth * 10.0,
        s"source ${r.getString(0)}: est $est vs true $truth")
    }
  }
}
