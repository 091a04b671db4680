package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LayoutOps, PipelineOps}

/** Round-16 hardening: the defensive edges flagged by the round-15
  * review — Hilbert out-of-grid masking, the priority estimator's
  * contribution clamp (Spark saturates a double→long cast past 2⁶³
  * where DuckDB raises, so an unclamped τ could red the gate as an
  * oracle ERROR), stream-fold idempotency under at-least-once
  * redelivery, the stratified sampler's >1000:1 granularity cliff,
  * and the Avro fixture's session-zone assumption.
  */
class Round16HardeningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hilbert masks out-of-grid coordinates onto the grid (never negative)") {
    GraftExtensions.register(spark)
    val n = 1L << LayoutOps.HBits
    val cases = Seq(
      (n + 3L, 5L), (-1L, 0L), (Long.MaxValue, Long.MinValue),
      (7L, n * n + 2L))
    val got = cases.toDF("x", "y")
      .select(expr(s"graft_hilbert(x, y)").as("d"),
        expr(s"graft_hilbert(x & ${n - 1}, y & ${n - 1})").as("dm"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) < n * n)
      assert(r.getLong(0) === r.getLong(1),
        "out-of-grid input must equal its masked in-grid twin")
    }
  }

  test("priority estimate clamps pathological weights inside the long range") {
    // one row, weight far past the cap: unclamped this would micro-
    // scale to 1e21 and saturate/raise in the double->long conversion
    val docs = Seq(("s1", 1L, 1000000000000000L))
      .toDF("source", "doc_id", "n_chars")
    val row = PipelineOps.prioritySampleEstimate(docs).collect().head
    val est = row.getAs[Long]("est_total_micro")
    assert(est === 9000000000000000000L,
      "cap (9e12) x 1e6 micro-units, exactly representable, no overflow")
  }

  test("prioFold is idempotent: refolding a delivered batch is a state no-op") {
    val corpus = (1L to 40L)
      .map(i => (if (i % 2 == 0) "a" else "b", i, 100L + i))
      .toDF("source", "doc_id", "n_chars")
    val state0 = PipelineOps.prioTopState(corpus.where(col("doc_id") <= 20))
    val batch = corpus.where(col("doc_id") > 20)
    val once = PipelineOps.prioFold(state0, batch)
    val twice = PipelineOps.prioFold(once, batch) // redelivery
    val a = once.orderBy("source", "doc_id").collect().toSeq
    val b = twice.orderBy("source", "doc_id").collect().toSeq
    assert(a === b, "redelivered batch must not displace distinct docs")
    assert(a.groupBy(_.getString(0)).values
      .forall(_.size <= PipelineOps.PrioK + 1))
  }

  test("stratifiedSample refuses a >1000:1 imbalance instead of sampling zero") {
    val docs = ((1L to 2000L).map(i => ("en", i, 10L)) ++
      Seq(("xx", 9001L, 10L)))
      .toDF("lang", "doc_id", "n_chars")
    val e = intercept[IllegalArgumentException] {
      PipelineOps.stratifiedSample(docs)
    }
    assert(e.getMessage.contains("widen the bucket modulus"))
  }

  test("Avro orders fixture asserts the UTC session its NTZ hop assumes") {
    val zoneKey = "spark.sql.session.timeZone"
    spark.conf.set(zoneKey, "America/New_York")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.sources.AvroSource.readOrdersAvro(spark, "/nonexistent")
      }
      assert(e.getMessage.contains("UTC session"))
    } finally spark.conf.set(zoneKey, "UTC")
  }
}
