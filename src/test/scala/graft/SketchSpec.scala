package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventsOps

/** The custom KMV aggregate must be bit-identical to the window
  * formulation (whose DuckDB oracle already gates it).
  */
class SketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kmv aggregate equals the window formulation on the fixture") {
    val ev = Tables.events(spark, TestSpark.Sf0001)
    val win = EventsOps.kmvDistinctEvents(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val agg = EventsOps.kmvDistinctEventsAgg(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg === win)
  }

  test("hist quantile lands within one bin width of the exact percentile") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, TestSpark.Sf0001)
    val sketch = graft.operators.RelationalOps.lineitemHistQuantiles(li)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.99)").as("p99"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val w = (graft.operators.RelationalOps.HistQHi -
      graft.operators.RelationalOps.HistQLo) / graft.operators.RelationalOps.HistQBins
    sketch.foreach { case (flag, (s50, s99)) =>
      val (e50, e99) = exact(flag)
      assert(math.abs(s50 - e50) <= w, s"$flag p50: sketch $s50 vs exact $e50")
      assert(math.abs(s99 - e99) <= w, s"$flag p99: sketch $s99 vs exact $e99")
    }
  }

  test("hist quantile plans as one ObjectHashAggregate exchange") {
    val df = graft.operators.RelationalOps.lineitemHistQuantiles(
      Tables.lineitem(spark, TestSpark.Sf0001))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      "TypedImperativeAggregate should plan through ObjectHashAggregate")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected the single aggregate exchange, got $exchanges")
  }

  test("cms estimates dominate exact counts and sum-preserve per row") {
    import graft.operators.TextAnalysisOps
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val rows = TextAnalysisOps.cmsHeavyHitters(docs).collect()
    assert(rows.length === TextAnalysisOps.CmsTopK)
    // CMS never undercounts; and for heavy hitters the overcount is
    // bounded by the non-heavy mass / width (loose 2x sanity bound)
    rows.foreach { r =>
      val (cnt, est) = (r.getLong(1), r.getLong(2))
      assert(est >= cnt, s"${r.getString(0)}: CMS undercounted $est < $cnt")
      assert(est <= cnt * 2 + 1000, s"${r.getString(0)}: implausible overcount $est vs $cnt")
    }
  }

  test("cms grids merge across partitions and every row sums to N") {
    val (d, w) = (4, 64)
    val n = 3000L
    val df = spark.range(n).select((col("id") % 700).cast("string").as("key"))
      .repartition(11)
      .select(conv(substring(md5(col("key")), 1, 15), 16, 10)
        .cast("long").as("x"))
    val grid = df.agg(graft.functions.SketchFunctions.cms(col("x"), d, w))
      .head.getSeq[Long](0)
    assert(grid.length === d * w)
    // each of the d rows partitions the full stream: row sums == N
    (0 until d).foreach { j =>
      assert(grid.slice(j * w, (j + 1) * w).sum === n, s"row $j lost counts")
    }
    // probing a present key via SQL returns at least its true count
    graft.Catalog.registerViews(spark, TestSpark.Sf0001)
    val est = spark.sql(
      s"""SELECT graft_cms_probe(sk, CAST(conv(substring(md5('42'), 1, 15), 16, 10) AS BIGINT), $d, $w) AS e
         |FROM (SELECT graft_cms(CAST(conv(substring(md5(CAST(id % 700 AS STRING)), 1, 15), 16, 10) AS BIGINT), $d, $w) AS sk
         |      FROM range(3000))""".stripMargin).head.getLong(0)
    assert(est >= 3000 / 700, s"probe undercounted: $est")
  }

  test("kmv buffers merge across partitions and dedup exactly") {
    // 500 distinct keys, every key duplicated 4x, spread over many
    // partitions so partial buffers must merge (and serialize)
    val df = spark.range(2000).select((col("id") % 500).cast("string").as("key"))
      .repartition(13)
      .select(conv(substring(md5(col("key")), 1, 15), 16, 10)
        .cast("double").as("h"))
    val est = df.agg(graft.functions.SketchFunctions.kmvEst(col("h"), 64)).head.getLong(0)
    // k=64 over 500 distinct values: estimate within 3 rsd (rsd ~ 1/sqrt(62))
    assert(math.abs(est - 500.0) / 500.0 < 0.4, s"estimate $est")
    // below k the aggregate is exact
    val small = spark.range(400).select((col("id") % 50).cast("string").as("key"))
      .repartition(7)
      .select(conv(substring(md5(col("key")), 1, 15), 16, 10)
        .cast("double").as("h"))
    assert(small.agg(graft.functions.SketchFunctions.kmvEst(col("h"), 64)).head.getLong(0) === 50L)
  }

  test("bloom has no false negatives and merges across partitions") {
    graft.GraftExtensions.register(spark) // the SQL probe at the end
    val (k, m) = (6, 1 << 14)
    def hash(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    // 2000 inserted keys spread over 17 partitions: partial bitmaps
    // must OR-merge (and serialize) before the probe pass
    val inserted = spark.range(2000).select(hash(col("id").cast("string")).as("h"))
      .repartition(17)
    val sketch = inserted
      .agg(graft.functions.SketchFunctions.bloom(col("h"), k, m).as("bf"))
    assert(sketch.head.getSeq[Long](0).length === m / 64)
    // every inserted key must probe true (bloom guarantee)
    val misses = spark.range(2000)
      .select(hash(col("id").cast("string")).as("h"))
      .join(org.apache.spark.sql.functions.broadcast(sketch))
      .where(!graft.functions.SketchFunctions.bloomProbe(col("bf"), col("h"), k, m))
      .count()
    assert(misses === 0L, s"bloom false negatives: $misses")
    // disjoint keys mostly probe false (n/m ~ 0.12 -> FP well under 50%)
    val fps = spark.range(2000, 4000)
      .select(hash(col("id").cast("string")).as("h"))
      .join(org.apache.spark.sql.functions.broadcast(sketch))
      .where(graft.functions.SketchFunctions.bloomProbe(col("bf"), col("h"), k, m))
      .count()
    assert(fps < 1000L, s"false-positive rate implausibly high: $fps of 2000")
    // probe positions follow the shared CmsHash family exactly: a
    // single-key sketch is reproducible bit-by-bit
    val one = spark.sql(s"SELECT graft_bloom(CAST(7 AS BIGINT), $k, $m) AS bf")
      .head.getSeq[Long](0)
    val expected = new Array[Long](m / 64)
    (0 until k).foreach { j =>
      val b = graft.functions.expressions.CmsHash.bucket(7L, j, m)
      expected(b >>> 6) |= (1L << (b & 63))
    }
    assert(one === expected.toSeq)
  }
}
