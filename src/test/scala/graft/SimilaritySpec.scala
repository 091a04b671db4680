package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.SimilarityOps

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val emb = Tables.embeddings(spark, TestSpark.Sf0001).cache()

  test("brute-force rank 1 is the true nearest neighbor") {
    val topk = SimilarityOps.similarityTopK(emb).collect()
    assert(topk.length === 10 * 10)
    // recompute probe 0's best match on the driver
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probe = vecs(0L)
    val best = vecs.filter(_._1 != 0L)
      .map { case (id, v) => id -> cos(probe, v) }
      .maxBy { case (id, s) => (math.rint(s * 1e6) / 1e6, -id) }
    val got = topk.filter(r => r.getLong(0) == 0L && r.getLong(1) == 1L).head
    assert(got.getLong(2) === best._1)
  }

  test("ann_ivf returns k results per probe with valid scores") {
    val res = SimilarityOps.annIvf(emb).collect()
    assert(res.nonEmpty)
    val byProbe = res.groupBy(_.getLong(0))
    byProbe.foreach { case (_, rows) =>
      assert(rows.length <= 10)
      rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    }
  }

  test("ann recall@10 vs brute force is reasonable on fixture") {
    val exact = SimilarityOps.similarityTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = SimilarityOps.annIvf(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.2, s"IVF recall collapsed: $recall")
  }

  test("kmeans-refined ivf keeps valid shape and reasonable recall") {
    val res = SimilarityOps.annIvfKmeans(emb).collect()
    assert(res.nonEmpty)
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length <= 10)
      rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    }
    val exact = SimilarityOps.similarityTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = res.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.2, s"kmeans IVF recall collapsed: $recall")
  }

  test("ann_ivf_indexed equals the inline kmeans path (index == inline proof)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val inline = SimilarityOps.annIvfKmeans(emb, TestSpark.Sf0001,
      centroidMod = 97, numCentroids = 16, nprobe = 3, nProbes = 10,
      k = 10, iterations = 1, moveEps = 0.0).collect().map(key).toSeq
    val indexed = SimilarityOps.annIvfIndexed(emb, TestSpark.Sf0001)
      .collect().map(key).toSeq
    assert(indexed.nonEmpty)
    assert(indexed === inline)
  }

  test("ann_recall_eval emits one sane metric row consistent with the searches") {
    val rows = SimilarityOps.annRecallEval(emb, TestSpark.Sf0001).collect()
    assert(rows.length === 1)
    val (hits, total, recall) =
      (rows(0).getLong(0), rows(0).getLong(1), rows(0).getDouble(2))
    assert(total === 10L * 10L)
    assert(hits >= 0L && hits <= total)
    assert(recall >= 0.0 && recall <= 1.0)
    // the metric must agree with recomputing the intersection here
    val exact = SimilarityOps.similarityTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = SimilarityOps.annIvfKmeans(emb, TestSpark.Sf0001,
      centroidMod = 97, numCentroids = 16, nprobe = 3, nProbes = 10,
      k = 10, iterations = 1, moveEps = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(hits === (exact & approx).size.toLong)
  }

  test("multi-round Lloyd recall is at least the 1-round build's") {
    val exact = SimilarityOps.similarityTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(iters: Int): Double = {
      val approx = SimilarityOps.annIvfKmeans(emb, iterations = iters)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val r1 = recallOf(1)
    val r2 = recallOf(2)
    assert(r2 >= r1 - 1e-9,
      s"2-round Lloyd regressed recall: $r2 < $r1")
  }

  test("sq8 rerank recall@10 beats the unreranked quantized path's floor") {
    val exact = SimilarityOps.similarityTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val sq8 = SimilarityOps.annSq8(emb).collect()
    val approx = sq8.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // int8 quantization over a 30-candidate pool loses little on a
    // 64-dim fixture; well above IVF's partition-miss floor
    assert(recall > 0.8, s"sq8 recall collapsed: $recall")
    // the exact rerank must order each probe's pool by the exact
    // score, and the quantized score must track it closely
    sq8.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-9 })
    }
    sq8.foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 0.1,
        s"quantized score drifted: ${r.getDouble(3)} vs ${r.getDouble(4)}")
    }
  }

  test("pq rerank recall@10 holds and reranked scores are exactly ordered") {
    val exact = SimilarityOps.similarityTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SimilarityOps.annPq(emb).collect()
    assert(pq.length === 100)  // 10 probes × k=10
    val approx = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 4×16-dim codebooks from 16 seeds is a coarse quantizer; the
    // 30-candidate exact rerank is what recovers the top-10 — the
    // floor is lower than sq8's (254-level/dim) by construction
    assert(recall > 0.5, s"pq recall collapsed: $recall")
    pq.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-9 })
    }
    // reconstruction scores are real cosines, not garbage
    pq.foreach(r => assert(r.getDouble(4) >= -1.0001 && r.getDouble(4) <= 1.0001))
  }

  test("trained PQ codebook keeps shape and one Lloyd round does not increase quantization error") {
    val seed = SimilarityOps.pqCodebook(emb).collect()(0)
      .getSeq[scala.collection.Seq[Float]](0)
    val trained = SimilarityOps.pqTrainedCodebook(emb).collect()(0)
      .getSeq[scala.collection.Seq[Float]](0)
    assert(trained.length === SimilarityOps.PqK)
    trained.foreach(c => assert(c.length === SimilarityOps.PqM * SimilarityOps.PqSub))
    // driver-side recompute of the total per-subspace quantization
    // error under each codebook; fixed-assignment recentering is the
    // L2 minimizer, so the trained error can exceed the seed's only
    // by the round(avg, 4) perturbation
    val vecs = emb.collect().map(_.getSeq[Float](1))
    def err(cb: scala.collection.Seq[scala.collection.Seq[Float]]): Double = {
      var tot = 0.0
      for (x <- vecs; m <- 0 until SimilarityOps.PqM) {
        val off = m * SimilarityOps.PqSub
        tot += cb.map { c =>
          var d = 0.0
          (0 until SimilarityOps.PqSub).foreach { i =>
            val dv = c(off + i).toDouble - x(off + i).toDouble; d += dv * dv
          }
          d
        }.min
      }
      tot
    }
    val e0 = err(seed); val e1 = err(trained)
    assert(e1 <= e0 * 1.001 + 1e-6,
      s"training increased quantization error: $e1 > $e0")
    assert(e1 < e0, s"training moved nothing: $e1 vs $e0")
  }

  test("trained PQ search keeps the result shape and does not collapse recall") {
    val exact = SimilarityOps.similarityTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val seedHits = SimilarityOps.annPq(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val res = SimilarityOps.annPqTrained(emb, TestSpark.Sf0001,
      nProbes = 10, k = 10, rerankM = SimilarityOps.PqRerankM).collect()
    assert(res.length === 100)
    val trHits = res.map(r => (r.getLong(0), r.getLong(2))).toSet
    val rSeed = (exact & seedHits).size.toDouble / exact.size
    val rTr = (exact & trHits).size.toDouble / exact.size
    // Lloyd training improves the candidate pool on average; a single
    // round isn't probe-wise monotone, so allow slack but no collapse
    assert(rTr >= rSeed - 0.1, s"trained recall regressed: $rTr vs seed $rSeed")
    assert(rTr > 0.5, s"trained recall collapsed: $rTr")
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-9 })
    }
  }

  test("ivf-pq composition: result shape, exact-rerank ordering, recall floor") {
    val res = SimilarityOps.annIvfPq(emb).collect()
    assert(res.nonEmpty)
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length <= 10)
      val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-9 })
    }
    // composition can't beat either half, but must not collapse below
    // the IVF routing floor x a coarse-quantizer haircut
    val exact = SimilarityOps.similarityTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = res.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.15, s"ivf-pq recall collapsed: $recall")
  }

  test("pq decode of stored codes is bit-equal to the fused reconstruction") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val cb = SimilarityOps.pqCodebook(emb)
    val both = emb.crossJoin(broadcast(cb))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.pqReconstruct(col("embedding"), col("cb"),
          SimilarityOps.PqM, SimilarityOps.PqSub, SimilarityOps.PqK).as("fused"),
        graft.functions.VectorFunctions.pqDecode(
          graft.functions.VectorFunctions.pqEncode(col("embedding"), col("cb"),
            SimilarityOps.PqM, SimilarityOps.PqSub, SimilarityOps.PqK),
          col("cb"), SimilarityOps.PqM, SimilarityOps.PqSub).as("decoded"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val f = r.getSeq[Float](1); val d = r.getSeq[Float](2)
      assert(f == d, s"vec ${r.getLong(0)}: decode != fused reconstruct")
    }
    // code words are m ints inside the codebook range
    val codes = emb.crossJoin(broadcast(cb))
      .select(graft.functions.VectorFunctions.pqEncode(col("embedding"), col("cb"),
        SimilarityOps.PqM, SimilarityOps.PqSub, SimilarityOps.PqK).as("codes"))
      .collect().map(_.getSeq[Int](0))
    codes.foreach { cw =>
      assert(cw.length == SimilarityOps.PqM)
      cw.foreach(j => assert(j >= 0 && j < SimilarityOps.PqK))
    }
  }

  test("ivf-pq indexed probe equals the inline composition row for row") {
    val inline = SimilarityOps.annIvfPq(emb).collect().map(_.toString).sorted
    val indexed = SimilarityOps.annIvfPqIndexed(emb, TestSpark.Sf0001)
      .collect().map(_.toString).sorted
    assert(indexed.sameElements(inline),
      "persisted coded lists must reproduce the inline IVF-PQ result")
  }

  test("semantic dedup labels one survivor per group and pairs stay co-clustered") {
    val labeled = SimilarityOps.semanticDedup(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(labeled.length === emb.count())
    // exactly one survivor per component, and it is the group minimum
    labeled.groupBy(_._3).foreach { case (component, group) =>
      val survivors = group.filter(_._4 === 1L)
      assert(survivors.length === 1, s"component $component has ${survivors.length} survivors")
      assert(survivors.head._1 === component)
      assert(group.map(_._1).min === component)
    }
    // every pair is within one cluster and above threshold; members of
    // a pair share a component label
    val byId = labeled.map(l => l._1 -> l).toMap
    val pairs = SimilarityOps.semanticPairs(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty, "fixture must exercise the pair path")
    pairs.foreach { case (a, b, score) =>
      assert(score >= SimilarityOps.SemThreshold)
      assert(byId(a)._2 === byId(b)._2, s"pair ($a,$b) spans clusters")
      assert(byId(a)._3 === byId(b)._3, s"pair ($a,$b) split across components")
    }
  }

  test("Lloyd driver stops early once centroid movement is under eps") {
    // eps larger than any possible component delta: stops after the
    // first round's movement check
    val (_, ranBig) = SimilarityOps.lloydIterate(
      emb, iterations = 5, moveEps = 1e9, centroidMod = 97, numCentroids = 16)
    assert(ranBig === 1, s"expected early stop after 1 round, ran $ranBig")
    // eps = 0 disables the stop entirely (movement < 0 is impossible)
    val (_, ranAll) = SimilarityOps.lloydIterate(
      emb, iterations = 3, moveEps = 0.0, centroidMod = 97, numCentroids = 16)
    assert(ranAll === 3, s"expected all 3 rounds, ran $ranAll")
  }

  test("IVF upsert: batch append onto frozen model equals one-shot rebuild, for an arbitrary split") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // an arbitrary (non-parity) split: batch = every 3rd vector —
    // proving the append path is batch-agnostic, not an artifact of
    // the registry's odd/even convention
    val batch = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val corpus = emb.where(pmod(col("vec_id"), lit(3)) =!= 0)
    val (centroids, _) = SimilarityOps.lloydIterate(
      corpus, iterations = 1, moveEps = 0.0, centroidMod = 97, numCentroids = 16)
    val root = java.nio.file.Files.createTempDirectory("ivfup").toString
    val dirA = s"$root/appended"   // corpus write, then batch APPEND
    val dirB = s"$root/rebuilt"    // one write of corpus ∪ batch
    SimilarityOps.ivfAppendBatch(corpus, centroids, dirA)
    SimilarityOps.ivfAppendBatch(batch, centroids, dirA)
    SimilarityOps.ivfAppendBatch(emb, centroids, dirB)

    def rows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("centroid_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(rows(dirA) === rows(dirB), "appended lists != rebuilt lists")

    // the append really was a second job into the same partition
    // layout: strictly more data files than the single-job rebuild
    def files(dir: String) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .count(p => p.getFileName.toString.endsWith(".parquet"))
    }
    assert(files(dirA) > files(dirB),
      "append should add files to existing partitions, not rewrite them")

    // and the probe over the upserted layout matches the rebuilt one
    val a = SimilarityOps.indexedSearch(emb, centroids,
      spark.read.parquet(dirA), nprobe = 3, nProbes = 10, k = 10).collect()
    val b = SimilarityOps.indexedSearch(emb, centroids,
      spark.read.parquet(dirB), nprobe = 3, nProbes = 10, k = 10).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
  }

  test("mmr: diversity penalty promotes the distinct candidate") {
    import spark.implicits._
    // probe [1,0,0]; ids 1,2 near-duplicates with top relevance; id 3
    // slightly less relevant but ANTI-correlated with pick 1 in the
    // off-probe dimension (sim(3,1) < rel(3), so its penalty is
    // smaller than the near-dup's). Pure relevance ranks (1,2,3);
    // MMR must rank the distinct id 3 second:
    //   m(2) ≈ 0.5·(0.99875 − 1.0)      ≈ −0.0006
    //   m(3) ≈ 0.5·(0.95783 − 0.94237)  ≈ +0.0077
    val fixture = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(1f, 0.05f, 0f), 0),
      (2L, Array(1f, 0.05f, 0.001f), 0),
      (3L, Array(1f, -0.3f, 0f), 0)).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.mmrRerank(fixture, candK = 3, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).toSeq === Seq(1L, 3L, 2L))
  }

  test("mmr: rank 1 equals the pure-relevance best; picks are distinct") {
    val got = SimilarityOps.mmrRerank(emb).collect()
    assert(got.length === SimilarityOps.MmrK)
    assert(got.map(_.getLong(1)).distinct.length === got.length)
    val topRel = SimilarityOps.similarityTopK(emb, nProbes = 1, k = 1)
      .collect().head.getLong(2)
    assert(got.head.getLong(1) === topRel,
      "the first MMR pick must be the max-relevance candidate")
    // (no monotonicity claim on the scores: a candidate with NEGATIVE
    // cosine to everything selected turns the penalty into a bonus,
    // so later picks can legitimately out-score rank 1)
  }
}
