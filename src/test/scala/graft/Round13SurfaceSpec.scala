package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{EventsOps, RelationalOps, ScanOps, SimilarityOps}

/** Semantics of the round-13 surfaces: recursive CTEs through the
  * SQL layer, the CDC fold (composition + out-of-order delivery),
  * MV maintenance, the prefix-min skyline scan, the JL projection,
  * and VARIANT extraction. Exact equalities and closed-form
  * invariants only — no float tolerance.
  */
class Round13SurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sf = TestSpark.Sf0001

  test("sql_recursive_chain: the root ancestor aggregates every customer") {
    Catalog.registerViews(spark, sf)
    val rows = Queries.queries("sql_recursive_chain")(spark, sf).collect()
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_acctbal"))
      // key 0 halts at node 0 and never reaches node 1 (keys here
      // are 0-based); every walk from key >= 1 passes node 1
      .where(col("c_custkey") >= 1).collect()
    val root = rows.find(_.getLong(0) == 1L).get
    assert(root.getLong(1) === cust.length)
    val expectedBal = cust.map(r => BigDecimal(r.getDouble(1))).sum
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    // rounded double sum: summation order may move the last cent
    assert(math.abs(root.getDouble(3) - expectedBal) <= 0.02)
    val maxDepth = rows.map(_.getInt(2)).max
    val maxKey = cust.map(_.getLong(0)).max
    assert(maxDepth === (63 - java.lang.Long.numberOfLeadingZeros(maxKey)))
  }

  test("sql_recursive_series: dense quarter, order counts reconcile") {
    Catalog.registerViews(spark, sf)
    val rows = Queries.queries("sql_recursive_series")(spark, sf).collect()
    assert(rows.length === 90) // Jan 1 .. Mar 31 1995
    assert(rows.map(_.getString(0)).toSeq === rows.map(_.getString(0)).sorted.toSeq)
    val totalFromSeries = rows.map(_.getLong(1)).sum
    val direct = Tables.orders(spark, sf)
      .where(col("o_orderdate").between("1995-01-01", "1995-03-31")).count()
    assert(totalFromSeries === direct)
  }

  test("cdcFold composes across arbitrary splits and delivery orders") {
    val orders = Tables.orders(spark, sf)
    val snap = RelationalOps.cdcSnapshot(orders)
    val ops = RelationalOps.cdcOps(orders).persist()
    try {
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.where(col("src") =!= "del")
          .select("key", "price", "src").collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      val oneShot = rowsOf(RelationalOps.cdcFold(snap, ops))
      // three disjoint batches delivered NEWEST sequence range first
      val b = (0 to 2).map(i => ops.where(pmod(col("seq"), lit(3)) === i))
      val outOfOrder = rowsOf(
        Seq(2, 0, 1).map(b).foldLeft(snap)(RelationalOps.cdcFold))
      assert(outOfOrder === oneShot)
      // and the registry's one-batch apply agrees
      val applied = RelationalOps.cdcApply(orders).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      assert(applied === oneShot)
    } finally ops.unpersist()
  }

  test("cdc_apply closed forms: deletes gone, double-updates take wave 2") {
    val orders = Tables.orders(spark, sf)
    val keys = orders.select("o_orderkey").as[Long].collect().toSet
    val price = orders.select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val out = RelationalOps.cdcApply(orders).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    def r2(d: Double) =
      BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (k <- keys if k % 10 == 7) {
      if (k % 3 == 0) assert(!out.contains(k - 1))          // deleted
      if (k % 60 == 7) assert(out(k - 1) === ((r2(price(k) + 20.0), "cdc")))
      else if (k % 3 == 1) assert(out(k - 1) === ((r2(price(k) + 10.0), "cdc")))
      if (k % 3 == 2) assert(out(k) === ((price(k), "cdc"))) // inserted
      assert(!out.contains(k) || k % 3 == 2)                 // generators absent
    }
    // untouched snapshot rows ride through verbatim
    val touched = keys.filter(k => k % 10 == 7)
      .flatMap(k => Seq(k, k - 1))
    for (k <- keys if k % 10 != 7 && !touched.contains(k))
      assert(out(k) === ((price(k), "snap")))
  }

  test("skyline matches the quadratic dominance definition") {
    val part = Tables.part(spark, sf)
    val got = ScanOps.partSkyline(part).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSet
    val all = part.select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("long")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val expected = all.filter { case (_, px, sz) =>
      !all.exists { case (_, qx, qsz) =>
        qx <= px && qsz >= sz && (qx < px || qsz > sz)
      }
    }.map { case (id, px, sz) => (id, px, sz) }.toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("skyline plans no single-partition exchange") {
    val plan = ScanOps.partSkyline(Tables.part(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"))
  }

  test("JL projection: matrix density and row-exact arithmetic") {
    val dims = 64
    val vectors = (0 until SimilarityOps.JlOutDims).map { k =>
      (0 until dims).map(j => SimilarityOps.jlWeight(j, k))
    }
    for (ws <- vectors) {
      assert(ws.count(_ == 1) >= 4 && ws.count(_ == -1) >= 4)
      assert(ws.forall(w => w >= -1 && w <= 1))
    }
    // all 8 projection directions are genuinely distinct (a periodic
    // weight formula would collapse k and k+6 — the round-13 plan
    // audit caught exactly that)
    assert(vectors.distinct.size === vectors.size)
    val emb = Tables.embeddings(spark, sf)
    val first = emb.orderBy("vec_id").limit(1)
    val got = SimilarityOps.embeddingProjection(first).collect()(0)
    val vec = first.select("embedding").as[Seq[Float]].collect()(0)
    val scale = math.sqrt(3.0 / SimilarityOps.JlOutDims)
    for (k <- 0 until SimilarityOps.JlOutDims) {
      val s = (0 until dims).foldLeft(0.0) { (acc, j) =>
        SimilarityOps.jlWeight(j, k) match {
          case 1  => acc + vec(j).toDouble
          case -1 => acc + (-vec(j).toDouble)
          case _  => acc
        }
      }
      val expected = BigDecimal(s * scale)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got.getDouble(1 + k) === expected)
    }
  }

  test("variantProps: absent path never errors, x2 doubles the value sum") {
    val events = Tables.events(spark, sf)
    val rows = EventsOps.variantProps(events).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(5) === 0L)) // n_absent
    val direct = events.groupBy("event_type")
      .agg(round(sum(col("value") * 2), 4).as("x"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(r.getDouble(4) === direct(r.getString(0))))
  }

  test("incremental_daily_counts equals the full recompute") {
    val full = Tables.events(spark, sf)
      .withColumn("day", date_format(date_trunc("day",
        timestamp_millis(expr("ts div 1000000"))), "yyyy-MM-dd"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("cents"))
      .select(col("event_type"), col("day"), col("n"),
        round(col("cents") / 100.0, 2).as("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val inc = EventsOps.incrementalDailyCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(inc === full)
  }

  test("incremental_daily_counts reads the persisted MV, not base even rows") {
    val plan = EventsOps.incrementalDailyCounts(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_dailymv"))
  }

  test("dynamic overwrite restates exactly one day, in place") {
    val restated = graft.sources.Partitioning.eventsRestatedDaily(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val plain = Tables.events(spark, sf)
      .withColumn("day", date_format(date_trunc("day",
        timestamp_millis(expr("ts div 1000000"))), "yyyy-MM-dd"))
      .groupBy("day")
      .agg(round(sum(floor(col("value") * 100.0 + 0.5).cast("long")) / 100.0, 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(restated.keySet === plain.keySet)
    val changed = restated.keySet.filter(d => restated(d) != plain(d))
    assert(changed === Set(graft.sources.Partitioning.RestateDay))
  }

  test("schema evolution: legacy rows null-fill, generations reconcile") {
    val evolved = graft.sources.Partitioning.schemaEvolvedOrders(spark, sf)
    assert(evolved.columns.contains("o_orderstatus"))
    val byGen = evolved.groupBy("gen")
      .agg(count(lit(1)).as("n"),
        count(col("o_orderstatus")).as("n_status"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val orders = Tables.orders(spark, sf)
    val evenN = orders.where(col("o_orderkey") % 2 === 0).count()
    val oddN = orders.where(col("o_orderkey") % 2 === 1).count()
    assert(byGen(1) === ((evenN, 0L)))   // gen 1: all statuses null-filled
    assert(byGen(2) === ((oddN, oddN)))  // gen 2: all statuses present
  }

  test("geomean UDAF matches the driver-side log-space computation") {
    val got = graft.operators.EventsOps.geoMeanByType(Tables.events(spark, sf))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val vals = Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .filter(_._2 > 0).groupBy(_._1)
    for ((t, xs) <- vals) {
      val expected = math.exp(xs.map(x => math.log(x._2)).sum / xs.length)
      assert(math.abs(got(t) - expected) <= 1e-4)
    }
  }

  test("null-safe join: the NULL bucket is the product of the null sides") {
    val rows = Queries.queries("join_null_safe")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val o = Tables.orders(spark, sf)
    val nullsA = o.where(col("o_orderkey") % 4 === 0 && col("o_orderkey") % 20 === 0).count()
    val nullsB = o.where(col("o_orderkey") % 4 === 2 && col("o_orderkey") % 20 === 2).count()
    assert(rows(-1L) === nullsA * nullsB)
    assert(rows.keySet.filter(_ >= 0).forall(k => k < 50))
  }

  test("streamed CDC state: committed version chain ends at the batch apply") {
    val orders = Tables.orders(spark, sf)
    val root = graft.streaming.EventStreams.streamedCdcLayout(spark, sf)
    val stateRoot = s"$root/state"
    val v = graft.streaming.EventStreams.latestCdcVersion(stateRoot)
    assert(v >= 2L) // v0 snapshot + at least two micro-batch folds
    val streamed = spark.read.parquet(s"$stateRoot/v$v")
      .where(col("src") =!= "del")
      .select("key", "price", "src").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val batch = RelationalOps.cdcApply(orders).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(streamed === batch)
    // tombstones exist in state (deletes are retained, not dropped)
    assert(spark.read.parquet(s"$stateRoot/v$v")
      .where(col("src") === "del").count() > 0)
  }
}
