package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityOps

/** The adaptive-K NSW construction scale story (VERDICT round-16 item
  * 1): graph BUILD cost is the within-cluster pair work of its two
  * partitioning legs, and with K = max(SemMinK, ceil(sqrt n)) — the
  * exact [[SimilarityOps.semAdaptiveParams]] formula semantic dedup
  * already proves — that work stays ~n^1.5 instead of n²/const as the
  * corpus grows. Proven on the replica shape the 10x/100x fixtures
  * use (byte-identical embeddings, ids shifted by 1e9 per copy — the
  * dense-duplicate worst case AND the sparse-id layout that breaks a
  * plain `vec_id % mod` seed rule, which is why the seeds are
  * hash-spread).
  */
class NswAdaptiveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val emb = Tables.embeddings(spark, TestSpark.Sf0001).cache()

  test("adaptive default equals the explicitly-parameterized build") {
    val (k, stride) = SimilarityOps.semAdaptiveParams(emb.count())
    val auto = SimilarityOps.nswEdges(emb, SimilarityOps.NswMods)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val pinned = SimilarityOps.nswEdges(emb, SimilarityOps.NswMods,
        explicitParams = Some((k, stride)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(auto === pinned)
  }

  test("100x replica shape: hash-spread seeds survive sparse ids and per-leg pair work stays ~n^1.5") {
    // the mk100x replication model at its real copy count: 100
    // byte-identical copies, vec_id shifted by 1e9 per copy — the
    // dense-duplicate worst case at the exact scale the standing
    // 100x artifacts gate
    val rep = (0 until 100)
      .map(c => emb.select(
        (col("vec_id") + lit(c * 1000000000L)).as("vec_id"),
        col("embedding")))
      .reduce(_ unionAll _)
      .cache()
    val n = rep.count()
    val (k, stride) = SimilarityOps.semAdaptiveParams(n)
    assert(k === 224) // ceil(sqrt(50000))

    val target = math.pow(n.toDouble, 1.5)
    for (mod <- SimilarityOps.NswMods) {
      val assign = SimilarityOps.nswAssignment(rep, mod, k, stride).cache()
      assert(assign.count() === n)
      // the seed rule found a full-width layout on the 1e9-shifted id
      // space (a mod-divisor rule collapses to the first copy here);
      // identical replicas merge onto one centroid, so distinct
      // assigned centroids can be below k but not collapsed
      val distinctCentroids = assign.select("centroid_id").distinct().count()
      assert(distinctCentroids >= k / 2,
        s"leg $mod centroid layout collapsed: $distinctCentroids of $k")
      // the scale invariant the fixed-16 clustering violated: the
      // within-cluster join of nswTopG generates sum over clusters of
      // cn*(cn-1) ordered pairs; with adaptive K that stays within a
      // constant factor of n^1.5 (8x is the same skew allowance
      // SemanticAdaptiveSpec grants the dense-duplicate workload)
      val pairWork = assign.groupBy("centroid_id").count()
        .agg(sum((col("count") * (col("count") - 1)).cast("double")))
        .collect()(0).getDouble(0)
      assert(pairWork <= 8.0 * target,
        s"leg $mod pair work $pairWork exceeds 8 * n^1.5 = ${8.0 * target}")
      assign.unpersist()
    }
    rep.unpersist()
  }

  test("the two legs seed independently (the navigability premise)") {
    val (k, stride) = SimilarityOps.semAdaptiveParams(emb.count())
    val legs = SimilarityOps.NswMods.map { mod =>
      SimilarityOps.nswAssignment(emb, mod, k, stride)
        .select("centroid_id").distinct()
        .collect().map(_.getLong(0)).toSet
    }
    val overlap = legs.head.intersect(legs(1)).size
    assert(overlap < math.min(legs.head.size, legs(1).size),
      "the two seed spreads must not be the same id set")
  }
}
