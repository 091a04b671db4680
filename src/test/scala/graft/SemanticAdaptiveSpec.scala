package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityOps

/** The adaptive-K semantic-dedup scale story (VERDICT round-9 item 4):
  * K = max(SemMinK, ceil(sqrt n)) keeps within-cluster pairwise work
  * ~n^1.5 instead of n²/const as the corpus grows. Proven here on the
  * 10× replica shape (the mk10x model: byte-identical embeddings, ids
  * shifted by 1e9 per copy — the worst-case dense-duplicate workload
  * AND the sparse-id layout that breaks a naive `vec_id % stride`
  * seed rule).
  */
class SemanticAdaptiveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val emb = Tables.embeddings(spark, TestSpark.Sf0001).cache()

  test("semAdaptiveParams follows the sqrt-n formula at every regime") {
    // floor regime: tiny corpora keep the fixed minimum
    assert(SimilarityOps.semAdaptiveParams(100L) === ((16, 6L)))
    // fixture points (the values the green CORRECTNESS rows ran with)
    assert(SimilarityOps.semAdaptiveParams(500L) === ((23, 21L)))
    assert(SimilarityOps.semAdaptiveParams(2000L) === ((45, 44L)))
    assert(SimilarityOps.semAdaptiveParams(20000L) === ((142, 140L)))
    // corpus-scale: no overflow, K tracks sqrt n
    val (kBig, strideBig) = SimilarityOps.semAdaptiveParams(1000000000000L)
    assert(kBig === 1000000)
    assert(strideBig === 1000000L)
  }

  test("adaptive default equals the explicitly-parameterized path") {
    val (k, stride) = SimilarityOps.semAdaptiveParams(emb.count())
    val auto = SimilarityOps.semanticDedup(emb).collect()
    val pinned = SimilarityOps.semanticDedup(
      emb, explicitParams = Some((k, stride))).collect()
    assert(auto.toSeq === pinned.toSeq)
  }

  test("10x replica shape: seeds survive sparse ids and pair work stays ~n^1.5") {
    // mk10x replication model: 10 byte-identical copies, vec_id
    // shifted by 1e9 per copy
    val rep = (0 until 10)
      .map(c => emb.select(
        (col("vec_id") + lit(c * 1000000000L)).as("vec_id"),
        col("embedding")))
      .reduce(_ unionAll _)
      .cache()
    val n = rep.count()
    val (k, _) = SimilarityOps.semAdaptiveParams(n)
    assert(k === 71) // ceil(sqrt(5000))

    val labeled = SimilarityOps.semanticDedup(rep).cache()
    assert(labeled.count() === n)

    // the hash-spread seed rule found a full-width centroid layout on
    // the sparse 1e9-shifted ids (a plain mod-stride rule collapses to
    // the first copy's ~7 seeds here). Identical replicas of one seed
    // vector merge onto the smallest centroid_id, so distinct assigned
    // centroids can be below k — but must stay a constant factor of it.
    val distinctCentroids = labeled.select("centroid_id").distinct().count()
    assert(distinctCentroids >= k / 2,
      s"centroid layout collapsed: $distinctCentroids of $k")

    // the scale invariant: sum over clusters of (cn choose 2) — the
    // candidate pairs the within-cluster self-join actually generates —
    // stays within a constant factor of the n^1.5 design target
    // (uniform clusters give n²/K = n^1.5; 8× is the skew allowance).
    val pairWork = labeled.groupBy("centroid_id").count()
      .agg(sum(col("count") * (col("count") - 1) / 2))
      .collect()(0).getDouble(0)
    val target = math.pow(n.toDouble, 1.5)
    assert(pairWork <= 8.0 * target,
      s"pair work $pairWork exceeds 8 * n^1.5 = ${8.0 * target}")
    labeled.unpersist(); rep.unpersist()
  }

  test("incremental semantic dedup equals full rebuild on the persisted model " +
    "restricted to batch-endpoint pairs") {
    val sfDir = TestSpark.Sf0001
    val incr = SimilarityOps.incrementalSemanticDedup(emb, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // full rebuild over the SAME centroid model the index persists:
    // assignment + combined-population cap see the full table, exactly
    // the population (stored corpus_n + batch_n) the probe enforces
    val centroids = spark.read.parquet(
      s"${SimilarityOps.semIndexDir(emb, sfDir)}/centroids")
    val full = SimilarityOps.semanticPairsWith(emb, centroids).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val restricted = full.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
    assert(incr.nonEmpty, "fixture should produce batch-endpoint semantic pairs")
    assert(incr === restricted)
    // and the restriction is strict: corpus-corpus pairs exist and are excluded
    assert(full.exists(p => p._1 % 2 == 0 && p._2 % 2 == 0))
  }
}
