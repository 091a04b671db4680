package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, RelationalOps, SimilarityOps, TextAnalysisOps}

/** Semantics of the round-12 late-wave surfaces: unpivot/lateral,
  * PMI, k-NN vote, BFS/weighted SSSP, SCD2 merge, snapshot diff,
  * dq/k-anonymity audits, the RANGE-frame window, blob ingestion,
  * and the gated stream-stream joins. Every check is an exact
  * equality or a cross-operator invariant — no float tolerance.
  */
class Round12SurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sf = TestSpark.Sf0001

  test("orders_unpivot inverts orders_pivot with zero-fill") {
    val orders = Tables.orders(spark, sf)
    val long = RelationalOps.ordersUnpivot(orders).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val direct = orders
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"), col("o_orderstatus"))
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // every observed (yr, status) count survives the pivot round trip
    direct.foreach { case (k, n) => assert(long(k) === n) }
    // absent combinations melt back as explicit zeros
    assert(long.keySet.size >= direct.keySet.size)
    (long.keySet -- direct.keySet).foreach(k => assert(long(k) === 0L))
  }

  test("sql_lateral_topn: at most 2 rows per nation, balances descending") {
    Catalog.registerViews(spark, sf)
    val rows = spark.sql(
      """SELECT n_name, t.c_custkey, t.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin).collect()
    val byNation = rows.groupBy(_.getString(0))
    assert(byNation.values.forall(_.length <= 2))
    byNation.values.foreach { g =>
      assert(g.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
    // the top row per nation IS that nation's max balance
    val maxBal = Tables.customer(spark, sf).join(Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(max("c_acctbal").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    byNation.foreach { case (n, g) => assert(g.head.getDouble(2) === maxBal(n)) }
  }

  test("pmi_collocations: min-count respected, ranks dense, scores ordered") {
    val rows = TextAnalysisOps.pmiCollocations(Tables.documents(spark, sf)).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length))
    assert(rows.forall(_.getLong(2) >= TextAnalysisOps.PmiMinCount))
    val pmis = rows.map(_.getDouble(3))
    // round-4 display values follow the round-6 ranking within 1e-4
    assert(pmis.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-4))
  }

  test("knn_classify: vote bounds and label domain") {
    val emb = Tables.embeddings(spark, sf)
    val labels = emb.select("label").distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet
    val rows = SimilarityOps.knnClassify(emb).collect()
    assert(rows.length === SimilarityOps.KnnProbes)
    rows.foreach { r =>
      assert(labels.contains(r.getAs[Number](1).longValue))
      assert(r.getLong(2) >= 1L && r.getLong(2) <= SimilarityOps.KnnK)
    }
  }

  test("bfs and weighted sssp agree on reachability; costs bracket hops") {
    val orders = Tables.orders(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    val hops = GraphOps.bfsHops(orders, lineitem).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val costs = GraphOps.ssspWeighted(orders, lineitem).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rounds = hop bound on both, weights never change reachability
    assert(hops.keySet === costs.keySet)
    assert(hops("c1") === 0L && costs("c1") === 0L) // seed node 2 = customer 1
    // per-edge weight ∈ [1, 3] ⇒ hops ≤ cost ≤ 3·hops... except that a
    // cheap longer path may undercut: only the LOWER bound is universal
    hops.foreach { case (e, h) => assert(costs(e) >= h, s"$e: cost<hops") }
    // within the round bound a cost never exceeds 3 × the max hop count
    assert(costs.values.forall(_ <= 3L * GraphOps.BfsMaxHops))
  }

  test("scd2 merge: changed keys close v1 and open v2, no-ops stay single") {
    val customer = Tables.customer(spark, sf)
    val out = RelationalOps.scd2CustomerMerge(customer).collect()
    val byKey = out.groupBy(_.getLong(0))
    val changedKeys = customer.where(col("c_custkey") % 7 === 3)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val noopKeys = customer.where(col("c_custkey") % 7 === 2)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    changedKeys.foreach { k =>
      val vs = byKey(k).sortBy(_.getLong(1))
      assert(vs.length === 2)
      assert(vs(0).getLong(1) === 1L && vs(0).getLong(6) === 0L) // closed
      assert(!vs(0).isNullAt(5) && vs(0).getLong(5) === 1L)      // valid_to = 1
      assert(vs(1).getLong(1) === 2L && vs(1).getLong(6) === 1L) // open v2
    }
    noopKeys.foreach { k =>
      val vs = byKey(k)
      assert(vs.length === 1 && vs.head.getLong(6) === 1L)
    }
    // inserted keys live above the offset, version 1, current
    val inserted = out.filter(_.getLong(0) >= RelationalOps.Scd2InsertOffset)
    assert(inserted.nonEmpty)
    assert(inserted.forall(r => r.getLong(1) === 1L && r.getLong(6) === 1L))
  }

  test("table_diff verdict counts match the mutation rules") {
    val orders = Tables.orders(spark, sf)
    val got = RelationalOps.tableDiff(orders).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keys = orders.select("o_orderkey").collect().map(_.getLong(0))
    val removed = keys.count(_ % 17 == 2)
    val added = keys.count(_ % 19 == 3)
    val changed = keys.count(k => k % 17 != 2 && k % 9 == 4)
    assert(got("removed") === removed)
    assert(got("added") === added)
    assert(got("changed") === changed)
    assert(got.values.sum === keys.length + added)
  }

  test("dq_audit: eight rules, passing rules report zero") {
    val got = RelationalOps.dqAudit(Tables.orders(spark, sf),
        Tables.lineitem(spark, sf), Tables.customer(spark, sf))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size === 8)
    assert(got("orders_null_custkey") === 0L)
    assert(got("orders_duplicate_pk") === 0L)
    assert(got("orders_orphan_custkey") === 0L)
    assert(got("orders_price_outlier") > 0L)
    assert(got("lineitem_late_shipdate") > 0L)
  }

  test("k_anonymity: group accounting is internally consistent") {
    val r = RelationalOps.kAnonymity(Tables.customer(spark, sf)).collect().head
    val (groups, small, atRisk, minN) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(groups > 0L && minN >= 1L)
    assert(small <= groups)
    assert(atRisk >= small) // each small group holds >= 1 row
    assert(atRisk < RelationalOps.KAnonK * small + 1)
  }

  test("orders_price_band: RANGE frame counts equal the direct band join") {
    val rows = RelationalOps.ordersPriceBand(Tables.orders(spark, sf)).collect()
    val all = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    rows.take(200).foreach { r =>
      val (yr, pri, cents, n) = (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4))
      val direct = all.count { case (y2, p2, c2) =>
        y2 == yr && p2 == pri && c2 >= cents - 10000L && c2 <= cents }
      assert(n === direct, s"($yr,$pri,$cents)")
    }
  }

  test("binaryfile_scan round-trips the sampled documents bytewise") {
    val inv = graft.sources.BinarySource.binaryInventory(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .where(pmod(col("doc_id"), lit(graft.sources.BinarySource.SampleMod)) === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(inv.length === docs.size)
    val dir = graft.sources.BinarySource.blobDir(spark, sf)
    inv.foreach { r =>
      val id = r.getLong(0)
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, s"doc_$id.bin"))
      assert(new String(bytes, "UTF-8") === docs(id))
      assert(r.getLong(1) === bytes.length.toLong)
    }
  }

  test("streamed outer join sink = inner sink plus eviction-timed nulls") {
    val inner = spark.read.parquet(
        graft.streaming.EventStreams.streamedJoinLayout(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val outer = spark.read.parquet(
        graft.streaming.EventStreams.streamedJoinLayout(spark, sf, "left_outer"))
      .collect()
    val outerMatched = outer.filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(outerMatched === inner) // matched sets identical
    val nullRows = outer.filter(_.isNullAt(3))
    // a purchase never carries both a match and a null pad
    val matchedPurchases = outerMatched.map(_._1)
    assert(nullRows.forall(r => !matchedPurchases.contains(r.getLong(0))))
    // null pads exist and sit strictly below the final watermark
    assert(nullRows.nonEmpty)
  }
}
