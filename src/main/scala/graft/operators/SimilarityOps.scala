package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.Fixtures

/** Similarity search over `array<float>` embedding columns.
  *
  * Scoring runs through the native codegen'd
  * [[graft.functions.expressions.CosineSimilarityFloat]] expression —
  * primitive loops inside whole-stage codegen, no per-element boxing.
  *
  * Ranking determinism: ranks order by `round(score, 6) DESC, vec_id`
  * so the DuckDB oracle (identical IEEE754 op sequence, identical
  * rounding) ranks identically.
  *
  * Scale paths:
  *  - `similarityTopK`: brute force, probes broadcast — each executor
  *    scans its corpus slice once per probe batch; O(n·probes·dim)
  *    flops but exactly one pass over the big side and zero shuffle of
  *    the corpus (the only exchange is the tiny top-k heap merge).
  *  - `annIvf`: IVF-flat — corpus pre-assigned to nearest centroid
  *    (broadcast centroid table), probes search only `nprobe` inverted
  *    lists; at 100 TB the assignment is a bucketed write and a probe
  *    touches ~nprobe/C of the data.
  *  - `embeddingLshDup`: sign-LSH banding for near-duplicate vectors,
  *    candidates verified exactly — the embedding analog of
  *    MinHash+verify in [[DedupOps]].
  */
object SimilarityOps {

  /** Output dimensionality of [[embeddingProjection]]. */
  val JlOutDims = 8

  /** Achlioptas sparse random-projection weight for (input dim `j`,
    * output dim `k`): +1 / -1 / 0 with probabilities 1/6, 1/6, 2/3
    * (Achlioptas 2003, "Database-friendly random projections") —
    * drawn from a DETERMINISTIC splitmix-style mix of the coordinate
    * pair, so the Spark plan and the DuckDB oracle use
    * byte-identical matrices (the oracle SQL is GENERATED from this
    * same function — the formula never crosses engines, only the
    * realized ±1 terms do). A mixing hash matters: a linear
    * `(a·j + b·k) mod 6` is periodic in k, which silently collapses
    * output dims k and k+6 to the SAME direction. Integer weights
    * keep every product exact: the only rounding in the pipeline is
    * the final scale-and-round.
    */
  def jlWeight(j: Int, k: Int): Int = {
    var h = j.toLong * 2654435761L + k.toLong * 976686449L + 0x9E3779B97F4A7CL
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    java.lang.Math.floorMod(h, 6L) match {
      case 0L => 1
      case 1L => -1
      case _  => 0
    }
  }

  /** Johnson–Lindenstrauss dimensionality reduction: project the
    * 64-dim embedding column onto [[JlOutDims]] sparse ±1 directions.
    * Entirely ROW-LOCAL — the projection is an unrolled
    * constant-folded sum per output dim (no UDF, no shuffle; whole
    * stage codegen keeps it in one pass over the scan), which is the
    * 100 TB shape: dim-reduction before an ANN index is a map-only
    * stage. Summation is left-associative in ascending j on both
    * engines, so doubles match bit-for-bit before the final round.
    */
  def embeddingProjection(embeddings: org.apache.spark.sql.DataFrame,
                          dims: Int = 64): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val scale = math.sqrt(3.0 / JlOutDims)
    val projCols = (0 until JlOutDims).map { k =>
      val terms = (0 until dims).flatMap { j =>
        jlWeight(j, k) match {
          case 1  => Some(element_at(col("embedding"), j + 1).cast("double"))
          case -1 => Some(-element_at(col("embedding"), j + 1).cast("double"))
          case _  => None
        }
      }
      round(terms.reduceLeft(_ + _) * scale, 4).as(s"p$k")
    }
    embeddings.select((col("vec_id") +: projCols): _*).orderBy("vec_id")
  }

  /** MMR candidate-pool size (constant, corpus-size independent). */
  val MmrCandK = 50
  /** MMR result size and relevance/diversity balance (exact 0.5 —
    * binary halving, no float-literal representation error). */
  val MmrK = 10
  val MmrLambda = 0.5

  /** Maximal-Marginal-Relevance diversity rerank of the probe's
    * brute-force top-[[MmrCandK]] cosine candidates: greedily pick
    * `k` results maximizing `λ·rel − (1−λ)·max_{s∈S} sim(·, s)`.
    *
    * Scale shape: the data-sized work is the distributed top-candK
    * scoring pass (broadcast probe, one corpus scan, per-partition
    * heaps — same shape as [[similarityTopK]]); the greedy selection
    * is inherently sequential and runs on the DRIVER over the
    * candK-row candidate set — a CONSTANT, corpus-size-independent
    * collect (the probed-centroid convention of [[annIvfIndexed]]).
    * At 100 TB the candidate pass composes with the IVF index probe
    * instead of brute force; the greedy tail is unchanged.
    *
    * Determinism: relevance and pairwise similarities are det6-locked
    * ([[TextAnalysisOps.det6]] — floor, not round, so both engines
    * quantize the same IEEE double identically), and the MMR score is
    * `0.5·r6 − 0.5·maxsim6` — products/differences of exact quantized
    * doubles, bit-identical in any engine; `max` is order-free. The
    * first pick's diversity term is 0 (empty selected set).
    */
  def mmrRerank(emb: DataFrame, probeId: Long = 0L, candK: Int = MmrCandK,
                k: Int = MmrK): DataFrame = {
    val spark = emb.sparkSession
    val probe = emb.where(col("vec_id") === probeId)
      .select(col("embedding").as("probe_vec"))
    val cand = emb.crossJoin(broadcast(probe))
      .where(col("vec_id") =!= probeId)
      .select(col("vec_id"), col("embedding"),
        TextAnalysisOps.det6(
          VectorFunctions.cosine(col("embedding"), col("probe_vec"))).as("r6"))
      .orderBy(col("r6").desc, col("vec_id").asc)
      .limit(candK)
      .collect() // candK rows — constant-bounded, never data-sized
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    // driver-side mirrors of the native expression / det6 (same IEEE
    // op sequence: ascending-index accumulation, floor quantization)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def det6(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    val embById = cand.map(c => c._1 -> c._2).toMap
    val remaining = scala.collection.mutable.LinkedHashMap(
      cand.map(c => c._1 -> c._3).toIndexedSeq: _*) // id -> r6
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.iterator.map { case (id, r6) =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.iterator
            .map(s => det6(cos(embById(id), embById(s._1)))).max
        (id, MmrLambda * r6 - (1.0 - MmrLambda) * maxSim)
      }.minBy { case (id, m) => (-m, id) }
      selected += best
      remaining.remove(best._1)
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, m), i) => ((i + 1).toLong, id, m) }
      .toSeq.toDF("rnk", "vec_id", "mmr_val")
  }

  /** Brute-force cosine top-k for probe vectors (vec_id < nProbes). */
  def similarityTopK(emb: DataFrame, nProbes: Int = 10, k: Int = 10): DataFrame = {
    val probes = emb.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val scored = emb.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorFunctions.cosine(col("probe_vec"), col("embedding")).as("score"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score"), 6).desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id"),
        round(col("score"), 4).as("score"))
      .orderBy("probe_id", "rnk")
  }

  /** k-NN classification by majority vote: odd-id probe vectors are
    * labeled from the `label` column of their k nearest EVEN-id
    * reference vectors (the labeled half). Same scale shape as
    * [[similarityTopK]]: the bounded probe set broadcasts, the
    * reference corpus is scanned once in place, and the rank window
    * rewrites to a partial `WindowGroupLimit` — each task forwards
    * only its local top-k per probe, so shuffle volume is
    * O(probes × partitions × k), independent of corpus size. The
    * vote is a probes×k-row aggregate; ties break to the SMALLEST
    * label via a max_by struct key (lexicographic, negated label).
    */
  val KnnProbes = 20
  val KnnK = 5

  def knnClassify(emb: DataFrame, nProbes: Int = KnnProbes,
                  k: Int = KnnK): DataFrame = {
    val probes = emb.where(col("vec_id") % 2 === 1 && col("vec_id") < 2L * nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val refs = emb.where(col("vec_id") % 2 === 0)
    val scored = refs.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"), col("label"),
        VectorFunctions.cosine(col("probe_vec"), col("embedding")).as("score"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score"), 6).desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .groupBy("probe_id", "label")
      .agg(count(lit(1)).as("votes"))
      .groupBy("probe_id")
      .agg(max_by(struct(col("label"), col("votes")),
        struct(col("votes"), (col("label") * -1).as("neg"))).as("best"))
      .select(col("probe_id"), col("best.label").as("pred_label"),
        col("best.votes").as("votes"))
      .orderBy("probe_id")
  }

  /** Deterministic seed centroids: `vec_id % centroidMod == 0 AND
    * vec_id < centroidMod * numCentroids` — at most `numCentroids`
    * rows, a CONSTANT independent of corpus size, so the centroid
    * broadcast is bounded and every assignment pass is O(n · K)
    * flops, not O(n²).
    */
  private def seedCentroids(emb: DataFrame, centroidMod: Int,
                            numCentroids: Int): DataFrame =
    emb
      .where(col("vec_id") % centroidMod === 0 &&
        col("vec_id") < centroidMod.toLong * numCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))

  /** Assign every corpus vector to its max-cosine centroid with a
    * `max_by`-style aggregate (no sort, no window — partial
    * aggregation collapses map-side before the one n-row exchange).
    * Ordering key: max rounded cosine, ties to the SMALLEST
    * centroid_id — struct comparison is lexicographic, so the negated
    * id makes max() pick the minimum.
    */
  private def assignToCentroids(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val assignKey =
      struct(round(col("cscore"), 6), (col("centroid_id") * -1).as("neg_id"))
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("centroid_id"), col("embedding"),
        VectorFunctions.cosine(col("embedding"), col("cvec")).as("cscore"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("centroid_id"), col("embedding")), assignKey).as("best"))
      .select(col("vec_id"), col("best.centroid_id"), col("best.embedding"))
  }

  /** The probe side of IVF search: rank centroids per probe (a tiny
    * probes x K window), search the `nprobe` nearest inverted lists,
    * return top-k by exact cosine.
    */
  private def ivfSearch(emb: DataFrame, centroids: DataFrame,
                        assignment: DataFrame, nprobe: Int, nProbes: Int,
                        k: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(round(col("cscore"), 6).desc, col("centroid_id").asc)
    val probeLists = emb.where(col("vec_id") < nProbes)
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("centroid_id"), col("embedding"),
        VectorFunctions.cosine(col("embedding"), col("cvec")).as("cscore"))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("vec_id").as("probe_id"), col("centroid_id"),
        col("embedding").as("probe_vec"))
    // probeLists is <= nProbes * nprobe rows — broadcast it so the
    // corpus-sized assignment never shuffles on centroid_id (window
    // output hides size stats from the optimizer, which otherwise
    // plans a sort-merge join here)
    val scored = assignment.join(broadcast(probeLists), Seq("centroid_id"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorFunctions.cosine(col("probe_vec"), col("embedding")).as("score"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score"), 6).desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id"),
        round(col("score"), 4).as("score"))
      .orderBy("probe_id", "rnk")
  }

  /** IVF-flat ANN over the deterministic seed centroids. */
  def annIvf(emb: DataFrame, centroidMod: Int = 97, numCentroids: Int = 16,
             nprobe: Int = 3, nProbes: Int = 10, k: Int = 10): DataFrame = {
    val centroids = seedCentroids(emb, centroidMod, numCentroids)
    ivfSearch(emb, centroids, assignToCentroids(emb, centroids),
      nprobe, nProbes, k)
  }

  /** One Lloyd refinement step: recompute each centroid as the
    * per-dimension mean of its assigned cluster (posexplode →
    * (centroid, dim) avg → rebuild the vector ordered by dim). Means
    * are rounded to 4 decimals and cast back to float so the SQL
    * oracle reproduces the exact IEEE values. A centroid that
    * attracts zero vectors simply drops out of the GROUP BY on both
    * engines (seed centroids are assigned to themselves on the first
    * step, self-cosine 1, so the seed round never empties).
    */
  private def refineCentroids(assignment: DataFrame): DataFrame =
    assignment
      .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(round(avg(col("v")), 4).as("m"))
      .groupBy(col("centroid_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("float")).as("cvec"))

  /** Bounded Lloyd iteration driver: assign → refine, `iterations`
    * times, stopping early when the max per-component centroid
    * movement between successive rounds falls below `moveEps`.
    * Each round's centroids are O(K) MODEL STATE, materialized on the
    * driver (same size class as any broadcast) — leaving them lazy
    * would recompute the whole O(n · K) assignment subtree for every
    * downstream broadcast. The corpus itself is never collected; each
    * round is one distributed assignment pass with map-side partial
    * aggregation. Returns the final centroid table (as a K-row local
    * DataFrame) and the number of rounds actually run.
    */
  private[graft] def lloydIterate(emb: DataFrame, iterations: Int,
                                      moveEps: Double, centroidMod: Int,
                                      numCentroids: Int): (DataFrame, Int) = {
    val spark = emb.sparkSession
    var centroids = seedCentroids(emb, centroidMod, numCentroids)
    var prev = centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    var ran = 0
    var converged = false
    while (ran < iterations && !converged) {
      val refined = refineCentroids(assignToCentroids(emb, centroids))
      val rows = refined.collect()
      val cur = rows.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      // max abs per-component delta; a cluster appearing/disappearing
      // counts as unbounded movement
      val movement =
        if (cur.keySet != prev.keySet) Double.PositiveInfinity
        else if (cur.isEmpty) 0.0
        else cur.map { case (id, v) =>
          v.zip(prev(id)).map(p => math.abs(p._1 - p._2).toDouble).max
        }.max
      centroids = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), refined.schema)
      prev = cur
      ran += 1
      if (movement < moveEps) converged = true
    }
    (centroids, ran)
  }

  /** IVF with `iterations` distributed Lloyd (k-means) refinement
    * rounds — every round stays O(n · K) with partial aggregation
    * ahead of each exchange, and only the K-row centroid model ever
    * reaches the driver. `moveEps` = 0 disables the early stop, so
    * the round count is exactly `iterations` and the unrolled SQL
    * oracle stays deterministic.
    */
  def annIvfKmeans(emb: DataFrame, centroidMod: Int = 97,
                   numCentroids: Int = 16, nprobe: Int = 3,
                   nProbes: Int = 10, k: Int = 10,
                   iterations: Int = 1, moveEps: Double = 0.0): DataFrame = {
    val (centroids, _) =
      lloydIterate(emb, iterations, moveEps, centroidMod, numCentroids)
    ivfSearch(emb, centroids, assignToCentroids(emb, centroids),
      nprobe, nProbes, k)
  }

  // --------------------------------------------------------------------
  // Persisted ANN models: train once per (dataset, params, source
  // fingerprint), load thereafter. Lloyd centroids, PQ codebooks and
  // SQ8 bounds are all deterministic functions of the data (rounded
  // at every cross-engine surface), so the written artifact is
  // bit-stable across runs and the oracle hashes are unchanged; the
  // warm path loads a K-row (or 1-row) parquet and only ever scores —
  // no training stage in the plan (pinned in PlanAuditSpec). This is
  // the bucket-layout discipline applied to model state: at 100 TB
  // retraining centroids inside every query is the repeated-cost
  // smell the round-9 audit flagged. annIvf's SEED centroids are a
  // pure vec_id filter (no training pass), so they stay inline.
  // --------------------------------------------------------------------

  /** Write-once Lloyd-refined centroid model (see [[lloydIterate]]). */
  def kmeansCentroidsDir(emb: DataFrame, sfDir: String, centroidMod: Int,
                         numCentroids: Int, iterations: Int,
                         moveEps: Double): String =
    graft.sources.Fixtures.ensure("ivfkm", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"m${centroidMod}k${numCentroids}i$iterations") { dir =>
      val (centroids, _) =
        lloydIterate(emb, iterations, moveEps, centroidMod, numCentroids)
      centroids.coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** [[annIvfKmeans]] over the persisted centroid model: the Lloyd
    * training loop runs only on the index-build (first) invocation;
    * the warm path reads the K-row model and scores. */
  def annIvfKmeans(emb: DataFrame, sfDir: String, centroidMod: Int,
                   numCentroids: Int, nprobe: Int, nProbes: Int, k: Int,
                   iterations: Int, moveEps: Double): DataFrame = {
    val dir = kmeansCentroidsDir(emb, sfDir, centroidMod, numCentroids,
      iterations, moveEps)
    val centroids = emb.sparkSession.read.parquet(dir)
    ivfSearch(emb, centroids, assignToCentroids(emb, centroids),
      nprobe, nProbes, k)
  }

  /** Write-once IVF INVERTED LISTS: the full corpus assignment
    * (vec_id, embedding) written partitioned by `centroid_id` on top
    * of the persisted Lloyd centroid model. This is the piece that
    * makes IVF an *index* rather than a search strategy: with the
    * lists on disk as partitions, a probe touches only the `nprobe`
    * directories it ranks nearest — partition pruning at the scan,
    * so the per-query I/O is corpus_size x (nprobe / K), not the
    * corpus. At 100 TB the layout is exactly this (lists bucketed by
    * centroid), maintained incrementally as vectors arrive; here it
    * is built once per (dataset, params, source fingerprint).
    */
  def ivfListsDir(emb: DataFrame, sfDir: String, centroidMod: Int,
                  numCentroids: Int, iterations: Int,
                  moveEps: Double): String =
    graft.sources.Fixtures.ensure("ivflists", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"m${centroidMod}k${numCentroids}i$iterations") { dir =>
      val cdir = kmeansCentroidsDir(emb, sfDir, centroidMod, numCentroids,
        iterations, moveEps)
      val centroids = emb.sparkSession.read.parquet(cdir)
      assignToCentroids(emb, centroids)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    }

  /** [[annIvfKmeans]] over the persisted inverted-list layout: the
    * warm path ranks centroids for each probe (a probes x K flop
    * count), collects the probed centroid ids (MODEL-sized driver
    * traffic — at most nProbes x nprobe longs, the same size class
    * as the centroid broadcast itself), and scans ONLY those list
    * partitions via an IN filter on the partition column (pinned as
    * PartitionFilters in PlanAuditSpec). No assignment pass, no
    * training stage, no full-corpus scan — identical output to
    * [[annIvfKmeans]] because the stored assignment is the same
    * deterministic max-cosine rule the inline path computes.
    */
  def annIvfIndexed(emb: DataFrame, sfDir: String, centroidMod: Int = 97,
                    numCentroids: Int = 16, nprobe: Int = 3,
                    nProbes: Int = 10, k: Int = 10, iterations: Int = 1,
                    moveEps: Double = 0.0): DataFrame = {
    val spark = emb.sparkSession
    val centroids = spark.read.parquet(kmeansCentroidsDir(emb, sfDir,
      centroidMod, numCentroids, iterations, moveEps))
    val lists = spark.read.parquet(ivfListsDir(emb, sfDir, centroidMod,
      numCentroids, iterations, moveEps))
    indexedSearch(emb, centroids, lists, nprobe, nProbes, k)
  }

  /** The warm probe body shared by every persisted inverted-list
    * layout ([[annIvfIndexed]]'s one-shot build and
    * [[annIvfUpsert]]'s corpus-build + batch-append): rank centroids
    * per probe, scan only the probed list partitions (typed IN filter
    * → partition pruning), exact-rerank within them.
    */
  private[graft] def indexedSearch(emb: DataFrame, centroids: DataFrame,
                                   lists: DataFrame, nprobe: Int,
                                   nProbes: Int, k: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(round(col("cscore"), 6).desc, col("centroid_id").asc)
    val probeLists = emb.where(col("vec_id") < nProbes)
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("centroid_id"), col("embedding"),
        VectorFunctions.cosine(col("embedding"), col("cvec")).as("cscore"))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("vec_id").as("probe_id"), col("centroid_id"),
        col("embedding").as("probe_vec"))
    val probed = probeLists.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).sorted
    // IN-filter literals typed to the partition column as read from
    // disk (inference may narrow the directory values to int) — a
    // cast on the column side would defeat partition pruning
    val probedTyped: Seq[Any] =
      if (lists.schema("centroid_id").dataType ==
        org.apache.spark.sql.types.IntegerType) probed.toSeq.map(_.toInt)
      else probed.toSeq
    val pruned = lists.where(col("centroid_id").isInCollection(probedTyped))
      .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"),
        col("embedding"))
    val scored = pruned.join(broadcast(probeLists), Seq("centroid_id"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorFunctions.cosine(col("probe_vec"), col("embedding")).as("score"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score"), 6).desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id"),
        round(col("score"), 4).as("score"))
      .orderBy("probe_id", "rnk")
  }

  /** Centroid model trained on the steady-state CORPUS only (even
    * vec_id) — the frozen model an upsert batch must NOT perturb.
    * `centroidMod` should be EVEN so the deterministic seed rule
    * (`vec_id % mod == 0 && vec_id < mod*k`) lands entirely inside
    * the even-id corpus.
    */
  def upsertCentroidsDir(emb: DataFrame, sfDir: String, centroidMod: Int,
                         numCentroids: Int, iterations: Int,
                         moveEps: Double): String =
    graft.sources.Fixtures.ensure("ivfupkm", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"m${centroidMod}k${numCentroids}i$iterations") { dir =>
      val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val (centroids, _) =
        lloydIterate(corpus, iterations, moveEps, centroidMod, numCentroids)
      centroids.coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** Incremental IVF maintenance: assign an arriving batch to a FROZEN
    * centroid model and APPEND each vector into its inverted-list
    * partition — no retraining, no corpus re-assignment, no list
    * rewrite. At 100 TB this is the only affordable way to keep a
    * vector index current: the append touches `|batch|` rows spread
    * over at most K partition directories while the corpus lists stay
    * byte-identical on disk. (Standard IVF practice — the model is
    * refreshed by an occasional offline rebuild, not per batch;
    * `annIvfUpsert`'s oracle proves the append path gives exactly the
    * rebuild's answer.)
    */
  def ivfAppendBatch(batch: DataFrame, centroids: DataFrame,
                     listsDir: String): Unit =
    assignToCentroids(batch, centroids)
      .write.mode("append").partitionBy("centroid_id").parquet(listsDir)

  /** Write-once UPSERTED inverted lists: the even-id corpus assigned
    * and written partitioned by centroid under the corpus-trained
    * model, then the odd-id "arriving" batch [[ivfAppendBatch]]-ed in
    * place as a second, separate write job. `_UPSERTED` marks the
    * append's completion — Spark's own `_SUCCESS` lands after the
    * first job, so without the extra marker a crash between the two
    * writes could leave a half-built fixture that looks finished; a
    * rebuild starts from an empty directory
    * ([[graft.sources.Fixtures.cleanBuild]]).
    */
  def ivfUpsertListsDir(emb: DataFrame, sfDir: String, centroidMod: Int,
                        numCentroids: Int, iterations: Int,
                        moveEps: Double): String =
    Fixtures.ensure("ivfuplists", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"m${centroidMod}k${numCentroids}i$iterations",
      validate = d => new java.io.File(d, "_UPSERTED").exists()) { dir =>
      Fixtures.cleanBuild(dir, Seq("_UPSERTED")) {
        ivfCorpusAndBatch(emb, sfDir, centroidMod, numCentroids,
          iterations, moveEps, dir)
      }
    }

  /** The build both IVF list fixtures share: the even-id corpus
    * assigned under the corpus-trained model and written partitioned
    * by centroid, then the odd-id batch [[ivfAppendBatch]]-ed in place.
    */
  private def ivfCorpusAndBatch(emb: DataFrame, sfDir: String,
                                centroidMod: Int, numCentroids: Int,
                                iterations: Int, moveEps: Double,
                                dir: String): Unit = {
    val centroids = emb.sparkSession.read.parquet(upsertCentroidsDir(emb,
      sfDir, centroidMod, numCentroids, iterations, moveEps))
    assignToCentroids(emb.where(pmod(col("vec_id"), lit(2)) === 0), centroids)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    ivfAppendBatch(emb.where(pmod(col("vec_id"), lit(2)) === 1),
      centroids, dir)
  }

  // the deterministic delete slice of the gated delete query, shared
  // with the generated oracle: vec_id % IvfDeleteMod == IvfDeleteRes
  val IvfDeleteMod = 9
  val IvfDeleteRes = 4

  /** DELETE from a persisted inverted-list layout — as a TOMBSTONE
    * APPEND, never a list rewrite: the deleted ids land in the
    * index's delete log ([[IndexVersion.appendTombstones]]; every list
    * scan skips it as metadata), costing |deletes| rows regardless of
    * corpus size. Probes subtract the log with a broadcast anti join
    * ([[annIvfDelete]]); the physical removal is deferred to the next
    * compaction ([[compactIvfLists]], which applies and drops the
    * log) — the standard LSM-shaped delete story, completing the
    * index lifecycle: build → probe → append → DELETE → compact.
    */
  def ivfDeleteBatch(deletes: DataFrame, listsDir: String): Unit =
    IndexVersion.appendTombstones(deletes, listsDir, "vec_id")

  /** Write-once tombstoned inverted lists: the upsert layout's build
    * (even-id corpus under the frozen corpus model, odd-id batch
    * appended) plus a [[ivfDeleteBatch]] of the deterministic delete
    * slice. `_DELETED` marks the three-step build complete (Spark's
    * `_SUCCESS` lands after step one).
    */
  def ivfDeleteIndexDir(emb: DataFrame, sfDir: String, centroidMod: Int,
                        numCentroids: Int, iterations: Int,
                        moveEps: Double): String =
    Fixtures.ensure("ivfdellists", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"m${centroidMod}k${numCentroids}i$iterations",
      validate = d => new java.io.File(d, "_DELETED").exists()) { dir =>
      Fixtures.cleanBuild(dir, Seq("_DELETED")) {
        ivfCorpusAndBatch(emb, sfDir, centroidMod, numCentroids,
          iterations, moveEps, dir)
        ivfDeleteBatch(emb.where(
          pmod(col("vec_id"), lit(IvfDeleteMod)) === IvfDeleteRes), dir)
      }
    }

  /** Steady-state ANN over the tombstoned index: the shared warm
    * probe, with the tombstone log subtracted from the scanned lists
    * by a broadcast anti join BEFORE scoring — a deleted vector can
    * never be returned as a neighbor, while the lists on disk stay
    * untouched. The list-side partition pruning survives (the probe's
    * IN filter pushes through the anti join's preserved side); a
    * deleted id can still be a QUERY — deletion removes a vector from
    * the searchable corpus, not from the world. Output equals a
    * from-scratch search over (corpus ∪ batch) \ deleted under the
    * same frozen model — the oracle's claim.
    */
  def annIvfDelete(emb: DataFrame, sfDir: String, centroidMod: Int = 98,
                   numCentroids: Int = 16, nprobe: Int = 3,
                   nProbes: Int = 10, k: Int = 10, iterations: Int = 1,
                   moveEps: Double = 0.0): DataFrame = {
    val spark = emb.sparkSession
    val centroids = spark.read.parquet(upsertCentroidsDir(emb, sfDir,
      centroidMod, numCentroids, iterations, moveEps))
    val dir = ivfDeleteIndexDir(emb, sfDir, centroidMod, numCentroids,
      iterations, moveEps)
    val live = IndexVersion.withoutTombstones(spark.read.parquet(dir), dir,
      "vec_id")
    indexedSearch(emb, centroids, live, nprobe, nProbes, k)
  }

  /** Compact an appended inverted-list layout. Every
    * [[ivfAppendBatch]] round leaves one more small file per touched
    * list partition — the classic small-files tax: at 100 TB a year
    * of hourly appends makes each probe open thousands of tiny
    * footers instead of a few full ones. The rewrite shuffles rows to
    * their partition key (`repartition(centroid_id)`) so each writer
    * task owns whole partitions and emits ONE file per list, then
    * commits by [[IndexVersion.publishDir]] — a crash leaves the old
    * layout (recoverable at `_old`) or the new one, never neither.
    * Any delete log is applied by the rewrite, and the publish drops
    * it with the old layout it lives in — a compaction that dropped
    * the log WITHOUT applying it would silently resurrect every
    * deleted vector. Row content is otherwise untouched (proven in
    * [[IndexMaintenanceSpec]] along with probe equality before/after).
    */
  def compactIvfLists(spark: org.apache.spark.sql.SparkSession,
                      listsDir: String): Unit = {
    val kept = IndexVersion.withoutTombstones(spark.read.parquet(listsDir),
      listsDir, "vec_id")
    IndexVersion.publishDir(listsDir)(kept
      .repartition(col("centroid_id"))
      .write.partitionBy("centroid_id").parquet)
  }

  /** Steady-state ANN over the upserted index: probe the
    * corpus-built + batch-appended inverted lists with the frozen
    * corpus-trained model. Identical output to retraining-free inline
    * recomputation over corpus ∪ batch (the oracle's claim), because
    * both sides apply the same deterministic max-cosine assignment
    * under the same centroids — append == rebuild.
    */
  def annIvfUpsert(emb: DataFrame, sfDir: String, centroidMod: Int = 98,
                   numCentroids: Int = 16, nprobe: Int = 3,
                   nProbes: Int = 10, k: Int = 10, iterations: Int = 1,
                   moveEps: Double = 0.0): DataFrame = {
    val spark = emb.sparkSession
    val centroids = spark.read.parquet(upsertCentroidsDir(emb, sfDir,
      centroidMod, numCentroids, iterations, moveEps))
    val lists = spark.read.parquet(ivfUpsertListsDir(emb, sfDir,
      centroidMod, numCentroids, iterations, moveEps))
    indexedSearch(emb, centroids, lists, nprobe, nProbes, k)
  }

  /** ANN quality evaluation: recall@k of the IVF index against the
    * brute-force ground truth, as a 1-row metric table (hits, total,
    * recall). The heavy inputs are the two searches themselves — the
    * eval join runs over two (probes x k)-row results, so its cost is
    * the metric's, not the corpus's. At 100 TB you sample the probe
    * set (the `nProbes` knob both searches already share) — recall is
    * a statistical property, so a probe sample estimates it without a
    * full-corpus ground-truth pass. det4 on the displayed ratio: the
    * cross-engine rounding rule for ratios (see
    * [[graft.operators.TextAnalysisOps.det4]]).
    */
  def annRecallEval(emb: DataFrame, sfDir: String, k: Int = 10): DataFrame =
    recallVsExact(emb,
      annIvfKmeans(emb, sfDir, centroidMod = 97, numCentroids = 16,
        nprobe = 3, nProbes = 10, k = k, iterations = 1, moveEps = 0.0), k)

  /** Recall@k of `approx` (any search result with probe_id/vec_id
    * columns) against the brute-force ground truth — the shared
    * metric core of the IVF, SQ8 and PQ recall rows.
    */
  private def recallVsExact(emb: DataFrame, approx: DataFrame,
                            k: Int): DataFrame = {
    val exact = similarityTopK(emb, nProbes = 10, k = k)
      .select("probe_id", "vec_id")
    exact.join(
        approx.select(col("probe_id"), col("vec_id"), lit(1L).as("hit")),
        Seq("probe_id", "vec_id"), "left")
      .agg(coalesce(sum(col("hit")), lit(0L)).as("hits"),
        count(lit(1)).as("total"))
      .select(col("hits"), col("total"),
        graft.operators.TextAnalysisOps.det4(
          col("hits").cast("double") / col("total")).as("recall"))
  }

  /** Recall@k of the int8 scalar-quantized path ([[annSq8]]) vs brute
    * force — the quality number next to its correctness gate. The
    * quantized scan RANKS by dequantized cosine but RERANKS the top
    * [[Sq8RerankM]] exactly, so this measures what quantization loses
    * at the candidate-generation stage.
    */
  def annSq8RecallEval(emb: DataFrame, sfDir: String, k: Int = 10): DataFrame =
    recallVsExact(emb,
      annSq8(emb, sfDir, nProbes = 10, k = k, rerankM = Sq8RerankM), k)

  /** Recall@k of the product-quantized path ([[annPq]]) vs brute
    * force — same discipline for the 64×-compressed codes.
    */
  def annPqRecallEval(emb: DataFrame, sfDir: String, k: Int = 10): DataFrame =
    recallVsExact(emb,
      annPq(emb, sfDir, nProbes = 10, k = k, rerankM = PqRerankM), k)

  /** documents joined with their embedding vector (doc_id == vec_id)
    * plus the L2 norm — the multimodal "attach features to metadata"
    * join. Equi-join on the shared key; Catalyst/AQE picks broadcast
    * vs shuffled hash by size.
    */
  def docEmbeddingJoin(docs: DataFrame, emb: DataFrame): DataFrame =
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("lang"), col("label"), col("n_chars"),
        round(VectorFunctions.l2Norm(col("embedding")), 4).as("emb_norm"))
      .orderBy("doc_id")

  /** Per-language mean embedding, dimension-wise — the generalized
    * k-means E-step over a metadata join: attach lang via the equi
    * join, posexplode to (lang, dim) rows, and average with map-side
    * partials. At 100 TB the exchange carries |langs| x dim partial
    * sums per task, never vectors.
    */
  def langMeanEmbedding(docs: DataFrame, emb: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .join(emb.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .select(col("lang"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("lang"), (col("pos") + 1).cast("long").as("pos"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("v").cast("double")), 4).as("mean_v"))
      .orderBy("lang", "pos")

  /** Near-duplicate vectors by cosine >= threshold via sign-LSH:
    * 8 tables x 8 axis-aligned hyperplanes (the sign bits of dims
    * t*8..t*8+7); bucket-colliding pairs are verified with the exact
    * cosine. Output (a_id, b_id, score).
    */
  def embeddingLshDup(emb: DataFrame, threshold: Double = 0.5,
                      tables: Int = 8, bitsPerTable: Int = 8,
                      maxBucket: Int = 1000): DataFrame = {
    def bucket(t: Int): Column =
      (0 until bitsPerTable).map { b =>
        when(element_at(col("embedding"), t * bitsPerTable + b + 1) > 0f,
          lit(1 << b)).otherwise(lit(0))
      }.reduce(_ + _)
    val keys = emb.select(
      col("vec_id"),
      explode(array((0 until tables).map(t =>
        concat_ws(":", lit(t), bucket(t).cast("string"))): _*)).as("bkey"))
    // same mega-bucket cap as the minhash/simhash candidates: a count
    // window rides the self-join's own bkey shuffle; a degenerate
    // bucket (embedding-space cluster collapsing a table's sign
    // pattern) is dropped instead of going quadratic. Inert at
    // fixture SFs, so the oracle equality holds.
    // not materialized: the self-join sides share the window's
    // hash(bkey) exchange via ReuseExchange (see nearDupMinhash)
    val bounded = keys
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bkey"))))
      .where(col("bn") <= maxBucket)
      .select("vec_id", "bkey")
    val cand = bounded.as("a").join(bounded.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    val withVecs = cand
      .join(emb.select(col("vec_id"), col("embedding").as("vec_a")),
        col("a_id") === col("vec_id")).drop("vec_id")
      .join(emb.select(col("vec_id"), col("embedding").as("vec_b")),
        col("b_id") === col("vec_id")).drop("vec_id")
    withVecs
      .select(col("a_id"), col("b_id"),
        round(VectorFunctions.cosine(col("vec_a"), col("vec_b")), 4).as("score"))
      .where(col("score") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** Candidate-pool size for [[annSq8]]'s exact rerank; the DuckDB
    * oracle is generated from the same constant.
    */
  val Sq8RerankM = 30

  /** [[semanticDedup]] constants, shared with the generated oracle:
    * the within-cluster cosine threshold (on the 4-decimal-rounded
    * score, so a boundary pair cannot flip between engines) and the
    * mega-cluster cap (inert at tested SFs — fixture clusters are
    * ~n/K vectors — but bounding the self-join's worst case the same
    * way the minhash/simhash/LSH bucket caps do).
    */
  val SemThreshold = 0.4
  val SemMaxCluster = 10000

  /** Minimum semantic-dedup cluster count; [[semAdaptiveParams]]
    * raises it with corpus size. Shared with the generated oracle.
    */
  val SemMinK = 16

  /** Adaptive cluster count for semantic dedup: K = max([[SemMinK]],
    * ceil(sqrt n)) keeps per-cluster pairwise work ~flat as the
    * corpus grows (sum cluster² ≈ n²/K = n^1.5), and the seed stride
    * = floor(n / K) spreads the K seeds evenly over the dense vec_id
    * range. Both engines compute the same formula — the oracle SQL
    * derives (k, stride) from `count(*)` with the identical
    * greatest/ceil/sqrt/integer-division ops, so a changed corpus
    * size can never put the two engines on different cluster layouts.
    * sqrt/ceil are correctly-rounded IEEE doubles on both sides.
    */
  def semAdaptiveParams(n: Long): (Int, Long) = {
    val k = math.max(SemMinK.toLong, math.ceil(math.sqrt(n.toDouble)).toLong)
    (k.toInt, math.max(1L, n / k))
  }

  /** Hash-spread seed centroids for the adaptive semantic path:
    * `(vec_id + 7) % P % stride == 0` (P = the [[graft.functions.expressions.CmsHash]]
    * prime) selects ~k ids regardless of how vec_ids are distributed —
    * dense 0..n-1 OR the 10× replica layout's 1e9-shifted sparse ids
    * (a plain `vec_id % stride` rule collapses to the first replica
    * there). The deterministic `ORDER BY vec_id LIMIT k` cap bounds
    * the broadcast at exactly k rows even for adversarial id sets;
    * Spark plans it as TakeOrderedAndProject (per-partition heaps, no
    * global sort materialization). Requires non-negative vec_ids,
    * which [[graft.Tables]] fixtures guarantee — `pmod` keeps the
    * Spark side sign-safe anyway.
    */
  private def seedCentroidsStride(emb: DataFrame, stride: Long, k: Int): DataFrame =
    emb
      .where(pmod(col("vec_id") + 7L,
        lit(graft.functions.expressions.CmsHash.P)) % stride === 0)
      .orderBy(col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))

  /** Semantic near-duplicate pairs, SemDeDup-style (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): assign every vector to its nearest seed
    * centroid (the [[annIvf]] assignment — K-row broadcast, one
    * corpus pass, no shuffle of vectors), then score pairs ONLY
    * within a cluster. The pairwise work drops from O(n²) to
    * O(sum cluster²) ≈ O(n²/K), and K scales with corpus size
    * ([[semAdaptiveParams]]: K ~ sqrt n keeps per-cluster work flat —
    * the count() deriving it is a parquet-metadata read, not a data
    * pass). The self-join shuffles on centroid_id, each cluster a
    * hash partition. The [[SemMaxCluster]] cap rides that same
    * shuffle's count window, so a degenerate embedding collapse
    * (everything in one cluster) bounds instead of going quadratic.
    *
    * `explicitParams` pins (k, stride) for specs; the default derives
    * them from the corpus.
    */
  def semanticPairs(emb: DataFrame,
                    threshold: Double = SemThreshold,
                    maxCluster: Int = SemMaxCluster,
                    explicitParams: Option[(Int, Long)] = None): DataFrame = {
    val (k, stride) = explicitParams.getOrElse(semAdaptiveParams(emb.count()))
    val centroids = seedCentroidsStride(emb, stride, k)
    semanticPairsFrom(assignLabeled(emb, centroids), threshold, maxCluster)
  }

  /** The materialized assignment table: every (vec_id, centroid_id,
    * embedding) label, computed ONCE (`localCheckpoint`) because both
    * the pair self-join's two branches and [[semanticDedup]]'s final
    * labeling read it — Catalyst does not share duplicated subtrees,
    * so without truncation the O(n·K) assignment pass would run once
    * per reference. At 100 TB this checkpoint IS the persisted
    * cluster-assignment index an ingest pipeline would keep next to
    * the dedup digest index.
    */
  private def assignLabeled(emb: DataFrame, centroids: DataFrame): DataFrame =
    // localCheckpoint (not scratchParquet) on purpose: the assignment
    // carries the embedding payload, and an r21 A/B measured the
    // parquet write of that payload costing exactly what the
    // stats-driven join improvements bought back (semantic_dedup flat
    // at 5.1-5.9 s either way at sf0.1); the pair join's inputs are
    // cluster-partitioned either way, and the cap below no longer
    // needs a payload shuffle at all
    Checkpoints.truncate(assignToCentroids(emb, centroids))

  /** Within-cluster scored pairs over a materialized assignment. */
  private def semanticPairsFrom(assign: DataFrame, threshold: Double,
                                maxCluster: Int): DataFrame = {
    // r21 (guide §2.3 — shuffle keys, not payloads): the mega-cluster
    // cap was a count window partitioned by centroid_id, which
    // shuffled every (vec_id, embedding) row once just to attach the
    // cluster size. The size table is at most K rows — aggregate it
    // (partial map-side counts shuffle a few bytes per cluster) and
    // broadcast-semi-join the kept cluster ids back; the assignment
    // rows never move. Same kept set: cn <= maxCluster per centroid.
    val kept = assign.groupBy("centroid_id")
      .agg(count(lit(1)).as("cn"))
      .where(col("cn") <= maxCluster)
      .select("centroid_id")
    val capped = assign.join(broadcast(kept), Seq("centroid_id"), "left_semi")
    val a = capped.select(col("centroid_id"), col("vec_id").as("a_id"),
      col("embedding").as("va"))
    val b = capped.select(col("centroid_id"), col("vec_id").as("b_id"),
      col("embedding").as("vb"))
    a.join(b, Seq("centroid_id"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(VectorFunctions.cosine(col("va"), col("vb")), 4).as("score"))
      .where(col("score") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** The semantic-dedup labeling: connected components over the
    * [[semanticPairs]] graph (transitive closure — a chain of
    * above-threshold neighbors is ONE semantic group, the same
    * clustering step [[DedupOps.dupComponents]] runs over the lexical
    * pair graph), then every vector labeled with its group minimum
    * and a survivor flag (group minimum = the kept representative;
    * singletons survive trivially). Output is the full corpus
    * labeling — the downstream training-data filter is
    * `WHERE is_survivor = 1`.
    */
  def semanticDedup(emb: DataFrame,
                    threshold: Double = SemThreshold,
                    maxCluster: Int = SemMaxCluster,
                    explicitParams: Option[(Int, Long)] = None): DataFrame = {
    val (k, stride) = explicitParams.getOrElse(semAdaptiveParams(emb.count()))
    val centroids = seedCentroidsStride(emb, stride, k)
    val assign = assignLabeled(emb, centroids)
    val pairs = semanticPairsFrom(assign, threshold, maxCluster)
    val comp = DedupOps.connectedComponents(pairs.select(col("a_id"), col("b_id")))
      .select(col("doc_id").as("vec_id"), col("component"))
    assign.select("vec_id", "centroid_id")
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("is_survivor",
        (col("component") === col("vec_id")).cast("long"))
      .orderBy("vec_id")
  }

  /** Within-cluster pairs over EXPLICIT centroids — the full-rebuild
    * reference for the incremental path: assignment, combined-
    * population cap, and scoring all match [[semanticPairs]], but the
    * centroid model is supplied instead of derived, so a spec can run
    * the rebuild on the SAME model the persisted index holds and
    * prove [[incrementalSemanticDedup]] equals it restricted to
    * batch-endpoint pairs.
    */
  def semanticPairsWith(emb: DataFrame, centroids: DataFrame,
                        threshold: Double = SemThreshold,
                        maxCluster: Int = SemMaxCluster): DataFrame =
    semanticPairsFrom(assignLabeled(emb, centroids), threshold, maxCluster)

  /** Write-once semantic-dedup model of the already-ingested corpus
    * (even vec_ids — the [[DedupOps.incrementalDedup]] parity
    * convention): `centroids/` holds the K-row seed-centroid model
    * (K, stride derived from the CORPUS count by
    * [[semAdaptiveParams]]), `assign/` one (vec_id, centroid_id) row
    * per corpus vector — labels only, embeddings stay in the source
    * table — and `cluster_counts/` the per-cluster corpus population
    * for the combined mega-cluster cap. This is the embedding-family
    * sibling of [[DedupOps.lshIndexDir]]: per batch the corpus is
    * never re-assigned and never self-joined; index size is linear in
    * the corpus (one label row per vector + K centroids). Keyed by
    * dataset fingerprint ([[graft.sources.Fixtures]]) so regenerated
    * data can never hit a stale model.
    */
  def semIndexDir(emb: DataFrame, sfDir: String): String =
    Fixtures.ensure("semidx", sfDir,
      Seq(s"$sfDir/embeddings.parquet")) { dir =>
      Fixtures.cleanBuild(dir, Seq("_SUCCESS")) {
        writeSemIndex(emb.where(pmod(col("vec_id"), lit(2)) === 0), dir)
      }
    }

  /** Build a semantic model index — seed centroids derived from the
    * corpus, label assignment, cluster counts — at a user-managed
    * location (the write path shared with the fixture-keyed
    * [[semIndexDir]]).
    */
  def writeSemIndex(corpus: DataFrame, dir: String): Unit = {
    val (k, stride) = semAdaptiveParams(corpus.count())
    seedCentroidsStride(corpus, stride, k)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    writeSemIndexUnder(corpus, dir)
  }

  /** Assignment + counts under the centroid model ALREADY at `dir` —
    * the model-frozen half of [[writeSemIndex]], also the reference
    * rebuild a fold is compared against. The assignment reads the
    * WRITTEN model so the persisted floats are the exact operands
    * every later probe will use.
    */
  def writeSemIndexUnder(corpus: DataFrame, dir: String): Unit = {
    val spark = corpus.sparkSession
    assignToCentroids(corpus, spark.read.parquet(s"$dir/centroids"))
      .select("vec_id", "centroid_id")
      .write.mode("overwrite").parquet(s"$dir/assign")
    spark.read.parquet(s"$dir/assign")
      .groupBy("centroid_id").agg(count(lit(1)).as("corpus_n"))
      .write.mode("overwrite").parquet(s"$dir/cluster_counts")
  }

  /** Fold an ACCEPTED batch into a persisted semantic model index —
    * the embedding-family sibling of
    * [[graft.operators.DedupOps.foldBatchIntoLshIndex]]: the batch is
    * assigned under the FROZEN stored centroids, its label rows are
    * APPENDED to `assign/`, and `cluster_counts/` advances by a
    * per-cluster delta merge (full-outer join, published by
    * [[IndexVersion.publishDir]]). Like the LSH fold it is a
    * read-modify-write of the counts, so it takes the
    * [[IndexVersion]] version slot first: a second fold over a held
    * slot throws before it appends anything. Nothing re-assigns or
    * re-counts the corpus; the model itself is refreshed only by an
    * offline rebuild, exactly like the IVF centroids.
    * [[IndexMaintenanceSpec]] proves fold == rebuild for labels,
    * counts, and a follow-up probe.
    */
  def foldBatchIntoSemIndex(batch: DataFrame, indexDir: String): Unit = {
    val spark = batch.sparkSession
    val v = IndexVersion.begin(indexDir)
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    // the batch assignment feeds the append AND the delta counts —
    // materialize once (subtree-duplication discipline)
    val batchAssign = graft.operators.Checkpoints.truncate(
      assignToCentroids(batch, centroids).select("vec_id", "centroid_id"))
    batchAssign.write.mode("append").parquet(s"$indexDir/assign")
    val deltas = batchAssign.groupBy("centroid_id")
      .agg(count(lit(1)).as("delta_n"))
    val merged = spark.read.parquet(s"$indexDir/cluster_counts")
      .join(deltas, Seq("centroid_id"), "full_outer")
      .select(col("centroid_id"),
        (coalesce(col("corpus_n"), lit(0L)) +
          coalesce(col("delta_n"), lit(0L))).as("corpus_n"))
    IndexVersion.publishDir(s"$indexDir/cluster_counts")(merged.write.parquet)
    IndexVersion.commit(indexDir, v)
  }

  /** Deterministic delete slice for the registered
    * `semantic_after_delete` query — even (ingested-corpus) ids only,
    * shared with its oracle.
    */
  val SemDeleteMod = 10
  val SemDeleteRes = 4

  /** DELETE vectors from a persisted semantic model index — the
    * embedding family's take-down/right-to-erasure step, completing
    * the maintenance vocabulary across all five index families: the
    * ids land in the index's delete log
    * ([[IndexVersion.appendTombstones]]), probes subtract the log
    * with a broadcast anti join, and —
    * the LSH take-down convention — `cluster_counts` advances
    * EAGERLY by a negative per-cluster delta merge, because the
    * combined-population mega-cluster cap must see the LIVE
    * population: a vacated cluster must reopen on the very next
    * probe, not after compaction.
    */
  def semDeleteBatch(deletes: DataFrame, indexDir: String): Unit = {
    val spark = deletes.sparkSession
    val v = IndexVersion.begin(indexDir)
    IndexVersion.appendTombstones(deletes, indexDir, "vec_id")
    val deltas = spark.read.parquet(s"$indexDir/assign")
      .join(broadcast(deletes.select(col("vec_id"))), Seq("vec_id"), "left_semi")
      .groupBy("centroid_id").agg(count(lit(1)).as("delta_n"))
    val merged = spark.read.parquet(s"$indexDir/cluster_counts")
      .join(deltas, Seq("centroid_id"), "full_outer")
      .select(col("centroid_id"),
        (coalesce(col("corpus_n"), lit(0L)) -
          coalesce(col("delta_n"), lit(0L))).as("corpus_n"))
    IndexVersion.publishDir(s"$indexDir/cluster_counts")(merged.write.parquet)
    IndexVersion.commit(indexDir, v)
  }

  /** Apply the semantic tombstone log physically: rewrite `assign/`
    * minus the deleted labels, RECOUNT `cluster_counts` from the
    * surviving labels (which must equal the eagerly-advanced counts
    * — spec-pinned, so a drift between the delta math and reality
    * cannot survive a compaction unnoticed), and drop the log.
    * The centroid MODEL is untouched — deletion never retrains, the
    * same frozen-model contract as the IVF family.
    */
  def compactSemIndex(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String): Unit = {
    val kept = IndexVersion.withoutTombstones(
      spark.read.parquet(s"$indexDir/assign"), indexDir, "vec_id")
    IndexVersion.publishDir(s"$indexDir/assign")(kept.write.parquet)
    val counts = spark.read.parquet(s"$indexDir/assign")
      .groupBy("centroid_id").agg(count(lit(1)).as("corpus_n"))
    IndexVersion.publishDir(s"$indexDir/cluster_counts")(counts.write.parquet)
    IndexVersion.dropTombstones(indexDir)
  }

  /** Write-once tombstoned semantic index for the registered query:
    * the [[semIndexDir]] build (even-id corpus) plus a
    * [[semDeleteBatch]] of the deterministic delete slice.
    * Clean-slate build ([[graft.sources.Fixtures.cleanBuild]]) —
    * the delete step APPENDS, so a rebuild on top of a partial
    * attempt would double-apply it.
    */
  def semDelIndexDir(emb: DataFrame, sfDir: String): String =
    Fixtures.ensure("semdelidx", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      validate = d => new java.io.File(d, "_DELETED").exists()) { dir =>
      Fixtures.cleanBuild(dir, Seq("_SUCCESS", "_DELETED")) {
        writeSemIndex(emb.where(pmod(col("vec_id"), lit(2)) === 0), dir)
        semDeleteBatch(emb.where(pmod(col("vec_id"), lit(2)) === 0 &&
          pmod(col("vec_id"), lit(SemDeleteMod)) === SemDeleteRes), dir)
      }
    }

  /** Steady-state semantic dedup over the TOMBSTONED index: the
    * arriving odd-id batch probes the frozen model with the deleted
    * corpus labels anti-joined out and the cluster counts already
    * advanced to the live population — so a deleted vector can never
    * be a pair endpoint, and a cluster the deletions shrank back
    * under the cap reopens immediately. Output equals the full
    * frozen-model rebuild restricted to pairs with >= 1 batch
    * endpoint and both endpoints live — the oracle's claim.
    */
  def semanticAfterDelete(emb: DataFrame, sfDir: String,
                          threshold: Double = SemThreshold,
                          maxCluster: Int = SemMaxCluster): DataFrame =
    semanticProbe(emb.where(pmod(col("vec_id"), lit(2)) === 1), emb,
      semDelIndexDir(emb, sfDir), threshold, maxCluster)

  /** Steady-state semantic dedup: the arriving batch (odd vec_ids)
    * probes the PERSISTED centroid model instead of re-clustering the
    * corpus — the [[DedupOps.incrementalNearDedup]] shape for the
    * embedding family. Per batch the engine pays: one row-local
    * broadcast-K assignment of the batch, a count aggregate over the
    * batch's clusters, and pair scoring ONLY in clusters the batch
    * occupies — batch×corpus via the stored labels (embeddings
    * fetched by key join, so only member vectors of probed clusters
    * are ever read) plus the batch's own within-cluster self-join.
    * The mega-cluster cap is enforced on the combined population
    * (stored `corpus_n` + the batch's own count) — exactly what the
    * full rebuild's count window sees, so the output equals
    * [[semanticPairsWith]] on the persisted model restricted to pairs
    * with >= 1 batch endpoint (SemanticAdaptiveSpec proves that
    * equality; the DuckDB oracle recomputes everything from scratch).
    */
  def incrementalSemanticDedup(emb: DataFrame, sfDir: String,
                               threshold: Double = SemThreshold,
                               maxCluster: Int = SemMaxCluster): DataFrame =
    incrementalSemanticDedupFrom(
      emb.where(pmod(col("vec_id"), lit(2)) === 1), emb, sfDir,
      threshold, maxCluster)

  /** The user-facing batch form of [[incrementalSemanticDedup]]:
    * `arriving` is ANY frame of (vec_id, embedding) rows probed
    * against `emb`'s persisted centroid model — the odd/even parity
    * of the gated fixture query is just one instantiation. Arriving
    * vec_ids must be disjoint from the ingested corpus.
    */
  def semanticDedupBatch(arriving: DataFrame, emb: DataFrame, sfDir: String,
                         threshold: Double = SemThreshold,
                         maxCluster: Int = SemMaxCluster): DataFrame =
    incrementalSemanticDedupFrom(arriving, emb, sfDir, threshold, maxCluster)

  /** The model-probe engine behind [[incrementalSemanticDedup]]:
    * `arriving` is any frame of (vec_id, embedding) rows probed
    * against `emb`'s persisted semantic model.
    */
  private[graft] def incrementalSemanticDedupFrom(arriving: DataFrame,
                                                  emb: DataFrame,
                                                  sfDir: String,
                                                  threshold: Double,
                                                  maxCluster: Int): DataFrame =
    semanticProbe(arriving, emb, semIndexDir(emb, sfDir), threshold, maxCluster)

  /** [[incrementalSemanticDedupFrom]] against an EXPLICIT index
    * location — the probe half of the user-managed semantic-index
    * lifecycle ([[writeSemIndex]] build → probe →
    * [[foldBatchIntoSemIndex]] maintenance). `emb` supplies the
    * embeddings of stored labels (fetched by key join — the index
    * holds labels, not vectors). A delete log at `idx`, when there is
    * one, is subtracted from the stored labels.
    */
  def semanticProbe(arriving: DataFrame, emb: DataFrame, idx: String,
                    threshold: Double, maxCluster: Int): DataFrame = {
    val spark = emb.sparkSession
    val centroids = spark.read.parquet(s"$idx/centroids")
    // the batch assignment feeds the cluster counts AND both pair
    // joins — materialize once (subtree-duplication discipline, as in
    // incrementalNearDedupFrom). r21: scratchParquet so the batch
    // side's REAL (small) size lets the batch×corpus pair join
    // broadcast the batch instead of sort-merging the corpus side
    // against a stats-blind LogicalRDD.
    val batchAssign = Checkpoints.scratchParquet(
      assignToCentroids(arriving, centroids), "semprobe_assign", files = 1)
    val batchCounts = batchAssign.groupBy("centroid_id")
      .agg(count(lit(1)).as("batch_n"))
    val corpusCounts = spark.read.parquet(s"$idx/cluster_counts")
    // combined-population cap over batch-occupied clusters only:
    // clusters the batch never touches generate no new pairs
    val kept = batchCounts
      .join(corpusCounts, Seq("centroid_id"), "left")
      .where(coalesce(col("corpus_n"), lit(0L)) + col("batch_n") <= maxCluster)
      .select("centroid_id")
    val a = batchAssign.join(kept, Seq("centroid_id"), "left_semi")
      .select(col("centroid_id"), col("vec_id").as("bid"),
        col("embedding").as("vb"))
    // stored labels pruned to kept clusters BEFORE the embedding
    // fetch, so only member vectors of probed clusters are read; on
    // a tombstoned index the log is anti-joined FIRST (broadcast —
    // model-sized), so a deleted vector can never appear as a pair
    // endpoint while the labels on disk stay untouched
    val c = IndexVersion.withoutTombstones(
        spark.read.parquet(s"$idx/assign"), idx, "vec_id")
      .join(kept, Seq("centroid_id"), "left_semi")
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("centroid_id"), col("vec_id").as("cid"),
        col("embedding").as("vc"))
    // batch x corpus (disjoint parities — normalize endpoint order;
    // cosine is operand-order exact, so the score is unaffected)
    val pairsBC = a.join(c, Seq("centroid_id"))
      .select(least(col("bid"), col("cid")).as("a_id"),
        greatest(col("bid"), col("cid")).as("b_id"),
        round(VectorFunctions.cosine(col("vb"), col("vc")), 4).as("score"))
    // batch x batch within kept clusters
    val pairsBB = a.as("x").join(a.as("y"),
        col("x.centroid_id") === col("y.centroid_id") &&
          col("x.bid") < col("y.bid"))
      .select(col("x.bid").as("a_id"), col("y.bid").as("b_id"),
        round(VectorFunctions.cosine(col("x.vb"), col("y.vb")), 4).as("score"))
    pairsBC.unionByName(pairsBB)
      .where(col("score") >= threshold)
      .select("a_id", "b_id", "score")
      .orderBy("a_id", "b_id")
  }

  /** Scalar-quantized (int8) ANN with exact rerank — the memory/IO
    * lever for brute-force search at 100 TB: per-dimension global
    * [lo, hi] bounds map each float32 to a code in [-127, 127], so
    * the scanned corpus representation shrinks 4x (64 codes = 64
    * bytes vs 256) and the quantized scan pass is correspondingly
    * cheaper before a small exact pass fixes the ranking.
    *
    * Three passes, all scale-shaped:
    *  1. bounds: posexplode -> per-dimension min/max. The exchange
    *     carries dim-count rows per task (map-side partials); the
    *     result is ONE row of two dim-length arrays, broadcast.
    *  2. quantized scan: codes and their dequantized float vectors
    *     are row-local `transform`s; probes (vec_id < nProbes)
    *     broadcast; approximate cosine + top-`rerankM` per probe via
    *     WindowGroupLimit heaps. The corpus never shuffles.
    *  3. exact rerank: the candidate pool (nProbes x rerankM rows,
    *     broadcast) semi-joins the original vectors for exact cosine
    *     top-k — at 100 TB this touches the full-precision data for
    *     only the candidate row groups.
    *
    * Determinism: quantization math is the same double-precision op
    * sequence on both engines ((x-lo)*254/(hi-lo), round-half-up —
    * arguments are always >= 0, where Spark and DuckDB rounding
    * agree); a constant dimension (hi == lo) quantizes to code 0 and
    * dequantizes to lo exactly on both sides. Ranking ties break on
    * (rounded score, vec_id) as in [[similarityTopK]].
    */
  /** The one-row SQ8 model: per-dimension global [lo, hi] bound
    * arrays (pass 1 of [[annSq8]]). */
  def sq8Bounds(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("lo"), max(col("x").cast("double")).as("hi"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("lo")))),
          s => s.getField("lo")).as("lo_arr"),
        transform(array_sort(collect_list(struct(col("pos"), col("hi")))),
          s => s.getField("hi")).as("hi_arr"))

  /** Write-once SQ8 bounds model (min/max are exact, so the artifact
    * is bit-stable across runs). */
  def sq8BoundsDir(emb: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("sq8bounds", sfDir,
      Seq(s"$sfDir/embeddings.parquet")) { dir =>
      sq8Bounds(emb).coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** [[annSq8]] over the persisted bounds model: the corpus-wide
    * min/max pass runs only on the index-build invocation. */
  def annSq8(emb: DataFrame, sfDir: String, nProbes: Int, k: Int,
             rerankM: Int): DataFrame =
    annSq8From(emb, emb.sparkSession.read.parquet(sq8BoundsDir(emb, sfDir)),
      nProbes, k, rerankM)

  def annSq8(emb: DataFrame, nProbes: Int = 10, k: Int = 10,
             rerankM: Int = Sq8RerankM): DataFrame =
    annSq8From(emb, sq8Bounds(emb), nProbes, k, rerankM)

  private def annSq8From(emb: DataFrame, bounds: DataFrame, nProbes: Int,
                         k: Int, rerankM: Int): DataFrame = {
    def loAt(i: Column) = element_at(col("lo_arr"), i + 1)
    def hiAt(i: Column) = element_at(col("hi_arr"), i + 1)
    val codes = transform(col("embedding"), (x, i) =>
      coalesce(
        round((x.cast("double") - loAt(i)) * 254.0 /
          nullif(hiAt(i) - loAt(i), lit(0.0)), 0) - 127.0,
        lit(0.0)).cast("tinyint"))
    val dq = transform(col("codes"), (c, i) =>
      (loAt(i) + (c.cast("double") + 127.0) * (hiAt(i) - loAt(i)) / 254.0)
        .cast("float"))
    val qemb = emb.crossJoin(broadcast(bounds))
      .select(col("vec_id"), codes.as("codes"), col("lo_arr"), col("hi_arr"))
      .select(col("vec_id"), dq.as("dq"))
    val probes = qemb.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("dq").as("pdq"))
    val wq = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score_q"), 6).desc, col("vec_id").asc)
    val cand = qemb.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorFunctions.cosine(col("pdq"), col("dq")).as("score_q"))
      .withColumn("rnk_q", row_number().over(wq))
      .where(col("rnk_q") <= rerankM)
      .select(col("probe_id"), col("vec_id"), col("score_q"))
    val probeVecs = emb.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score"), 6).desc, col("vec_id").asc)
    emb.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(probeVecs), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("score_q"),
        VectorFunctions.cosine(col("probe_vec"), col("embedding")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id"),
        round(col("score"), 4).as("score"), round(col("score_q"), 4).as("score_q"))
      .orderBy("probe_id", "rnk")
  }

  // Product-quantization geometry, shared with the generated oracle:
  // PqM subspaces of PqSub dims each (PqM·PqSub must equal the
  // embedding dim), PqK centroids per subspace codebook.
  /** Exact-rerank depth of the COMPOSED (IVF-routed) PQ paths. The
    * full-scan PQ paths rerank [[PqRerankM]] (50) of the whole
    * corpus; the composed index's candidate pool is already pruned
    * to the probed lists (|corpus|·nprobe/K rows), so it can afford
    * to rerank deeper for the same total cost envelope — at most 100
    * exact cosines per probe, O(1) in corpus size. Measured at
    * sf0.01: 50 → 100 moves composed recall@10 0.55 → 0.63 under the
    * trained codebook (routing cap 0.68). */
  val IvfPqRerankM = 100
  val PqM = 4
  val PqSub = 16
  val PqK = 32
  val PqRerankM = 50

  /** ANN via product quantization with asymmetric scoring (the
    * billion-vector index family: IVF-PQ is IVF routing + THIS code
    * path inside each list). Each vector is encoded as [[PqM]]
    * 4-bit-ish codes — per subspace, the index of the nearest
    * codebook centroid by L2 — collapsing a 64-float payload to
    * PqM 5-bit codes (64× compression; at 100 TB the codes ride in
    * memory next to doc keys while the float payload stays in cold
    * storage until rerank). Codebooks are slices of the [[PqK]]
    * smallest-vec_id vectors (deterministic sample init, zero
    * training rounds — the Lloyd machinery is proven separately in
    * [[annIvfKmeans]]; composing them is mechanical). Scoring is
    * asymmetric: exact probe vs the concatenated-centroid
    * reconstruction — dot/cosine decompose across concatenated
    * subspaces, so scoring the reconstruction IS the classic
    * ADC-table sum without materializing per-probe lookup tables.
    * Candidates per probe are the top [[PqRerankM]] by quantized
    * score, then exact-cosine reranked to top k — same
    * bounded-rerank discipline as [[annSq8]].
    *
    * Cross-engine exactness: encode distances fold per-element
    * products in array order (native dot ↔ DuckDB list_sum — the
    * proven cosine pattern), argmin ties break on the smaller
    * centroid index via struct array_min, and both rank windows
    * order on 6-decimal-rounded scores before the id tiebreak.
    */
  /** The one-row PQ codebook model: cb[j] = j-th seed embedding
    * (j = vec_id < [[PqK]]; deterministic sample init). */
  def pqCodebook(emb: DataFrame): DataFrame =
    emb.where(col("vec_id") < PqK)
      .agg(transform(array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
        s => s.getField("embedding")).as("cb"))

  /** Write-once PQ codebook (deterministic seed rows — bit-stable). */
  def pqCodebookDir(emb: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("pqcb", sfDir,
      Seq(s"$sfDir/embeddings.parquet"), params = s"k$PqK") { dir =>
      pqCodebook(emb).coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** [[annPq]] over the persisted codebook model. */
  def annPq(emb: DataFrame, sfDir: String, nProbes: Int, k: Int,
            rerankM: Int): DataFrame =
    annPqFrom(emb, emb.sparkSession.read.parquet(pqCodebookDir(emb, sfDir)),
      nProbes, k, rerankM)

  def annPq(emb: DataFrame, nProbes: Int = 10, k: Int = 10,
            rerankM: Int = PqRerankM): DataFrame =
    annPqFrom(emb, pqCodebook(emb), nProbes, k, rerankM)

  /** PQ codebook after ONE per-subspace Lloyd refinement round — the
    * trained answer to the seed codebook's measured recall
    * (`ann_pq_recall_eval`): assign every vector's m-th subvector to
    * its nearest seed slice (same asymmetric-L2 argmin the encoder
    * uses, ties to the lowest index), then recenter each (subspace,
    * code) slice on the per-dimension mean of its assigned
    * subvectors; a slice that attracts nothing keeps its seed values.
    * Means follow the [[refineCentroids]] discipline — round(avg, 4)
    * cast to float — so the SQL oracle reproduces the exact IEEE
    * codebook. The refined slices reassemble into full PqK vectors,
    * so the probe path ([[annPqFrom]], native reconstruction) is
    * UNCHANGED — training only moves the model.
    *
    * == Scale shape ==
    * The training pass is corpus × PqM × PqK assignment rows with a
    * 16-element fold each — one shuffle to the (m, j, i) means. At
    * 100 TB codebooks train on a corpus SAMPLE (standard PQ
    * practice — the model has PqM·PqK·PqSub = 2048 floats; a few
    * hundred thousand vectors saturate it), and this is a write-once
    * build behind [[pqTrainedCodebookDir]] either way.
    */
  def pqTrainedCodebook(emb: DataFrame, seedStride: Int = 1): DataFrame = {
    val spark = emb.sparkSession
    // seedStride generalizes the seed slice so a CORPUS-frozen model
    // can seed from every stride-th id (stride 2 = the even-id corpus
    // of the upsert lifecycle) while keeping exactly PqK rows; j stays
    // the raw vec_id — it only orders rows and breaks argmin ties,
    // and any monotone relabeling preserves both
    val cbRows = emb.where(pmod(col("vec_id"), lit(seedStride)) === 0 &&
        col("vec_id") < seedStride.toLong * PqK)
      .select(col("vec_id").as("j"), col("embedding").as("c"))
    val ms = spark.range(PqM).select(col("id").cast("int").as("m"))
    val is = spark.range(1, PqSub + 1).select(col("id").cast("int").as("i"))
    // asymmetric-L2 cost of code j for subspace m of x:
    // Σ c_i² − 2 Σ x_i·c_i, two separate left folds in index order
    // (the oracle's list_sum pair, the proven cosine fold pattern)
    def dcost(x: Column, c: Column, m: Column): Column = {
      val cs = transform(slice(c, m * PqSub + 1, lit(PqSub)),
        v => v.cast("double"))
      val xs = transform(slice(x, m * PqSub + 1, lit(PqSub)),
        v => v.cast("double"))
      val sum1 = aggregate(cs, lit(0.0), (a, v) => a + v * v)
      val sum2 = aggregate(zip_with(xs, cs, (a, b) => a * b),
        lit(0.0), (a, v) => a + v)
      sum1 - lit(2.0) * sum2
    }
    val wB = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("d"), col("j"))
    // r21 (guide §2.5/§2.6): the corpus parquet is one scan split at
    // bench SFs, so the corpus × PqM × PqK lambda-fold assignment —
    // the training pass's entire CPU — ran in ONE task. Spread the
    // fan-out across the core count before the PqK-way cost eval;
    // per-row results and the (d, j) argmin window are unchanged.
    val best = emb.crossJoin(ms)
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .crossJoin(broadcast(cbRows))
      .select(col("vec_id"), col("m"), col("j"), col("embedding"),
        dcost(col("embedding"), col("c"), col("m")).as("d"))
      .withColumn("rn", row_number().over(wB)).where(col("rn") === 1)
      .select(col("m"), col("j"), col("embedding"))
    val ref = best
      .select(col("m"), col("j"),
        posexplode(slice(col("embedding"), col("m") * PqSub + 1, lit(PqSub)))
          .as(Seq("i0", "x")))
      .select(col("m"), col("j"), (col("i0") + 1).cast("int").as("i"),
        col("x").cast("double").as("x"))
      .groupBy("m", "j", "i").agg(round(avg(col("x")), 4).as("mv"))
    val grid = cbRows.crossJoin(ms).crossJoin(is)
      .select(col("j"), col("m"), col("i"),
        element_at(col("c"), col("m") * PqSub + col("i"))
          .cast("double").as("seedv"))
    val cbv = grid.join(ref, Seq("m", "j", "i"), "left")
      .select(col("j"), col("m"), col("i"),
        coalesce(col("mv"), col("seedv")).as("v"))
    cbv.groupBy("j")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("i"), col("v")))),
        s => s.getField("v").cast("float")).as("c"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("j"), col("c")))),
        s => s.getField("c")).as("cb"))
  }

  /** Write-once trained PQ codebook. */
  def pqTrainedCodebookDir(emb: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("pqcbtrain", sfDir,
      Seq(s"$sfDir/embeddings.parquet"), params = s"k${PqK}r1") { dir =>
      pqTrainedCodebook(emb).coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** [[annPq]] over the TRAINED codebook — same probe path, better
    * model; the recall row ([[annPqTrainedRecallEval]]) is the
    * measured improvement over the seed codebook.
    */
  def annPqTrained(emb: DataFrame, sfDir: String, nProbes: Int, k: Int,
                   rerankM: Int): DataFrame =
    annPqFrom(emb,
      emb.sparkSession.read.parquet(pqTrainedCodebookDir(emb, sfDir)),
      nProbes, k, rerankM)

  /** Recall@k of the trained-codebook PQ path vs brute force. */
  def annPqTrainedRecallEval(emb: DataFrame, sfDir: String,
                             k: Int = 10): DataFrame =
    recallVsExact(emb,
      annPqTrained(emb, sfDir, nProbes = 10, k = k, rerankM = PqRerankM), k)

  /** IVF-PQ: the composed billion-vector index — IVF routing prunes
    * the SCAN (only `nprobe` of `numCentroids` inverted lists are
    * touched per probe) and PQ prunes the PAYLOAD (candidate
    * generation scores the 64×-compressed reconstruction; exact
    * floats are read only for the `rerankM` rerank rows). Both halves
    * are the separately-gated machines composed unchanged: routing is
    * [[seedCentroids]]+[[assignToCentroids]] (the `ann_ivf` rule,
    * same tie discipline), in-list scoring + rerank is the `ann_pq`
    * asymmetric path (native [[graft.functions.VectorFunctions.pqReconstruct]]).
    *
    * == Scale shape ==
    * At 100 TB this is THE structure that works: the lists partition
    * the corpus (each probe reads nprobe/K of it — partition-pruned
    * when persisted, see [[annIvfIndexed]]), the codes ride in memory
    * next to the routing key (PqM bytes/vector vs 256 B of floats),
    * and the float payload stays in cold storage until the ≤rerankM
    * per-probe rerank fetch. Candidate work per probe is
    * |corpus|·nprobe/K code-scores, not |corpus| float-cosines.
    */
  def annIvfPq(emb: DataFrame, centroidMod: Int = 97, numCentroids: Int = 16,
               nprobe: Int = 3, nProbes: Int = 10, k: Int = 10,
               rerankM: Int = IvfPqRerankM): DataFrame = {
    val centroids = seedCentroids(emb, centroidMod, numCentroids)
    // PQ-encode each routed vector once under the TRAINED codebook
    // (one Lloyd round — the ann_pq_trained model); codes (here:
    // their reconstruction) ride next to the routing key. The
    // composed family reranks IvfPqRerankM (100) exact rows per
    // probe: measured recall@10 moved 0.47 (seed cb, rerank 50) →
    // 0.63, against a 0.68 routing cap. The RESIDUAL encoding
    // (IVFADC, [[annIvfAdc]]) was measured too and LOSES on this
    // corpus — see that method's scaladoc for the geometry.
    val encoded = assignToCentroids(emb, centroids)
      .crossJoin(broadcast(pqTrainedCodebook(emb)))
      .withColumn("recon", VectorFunctions.pqReconstruct(
        col("embedding"), col("cb"), PqM, PqSub, PqK))
      .select(col("vec_id"), col("centroid_id"), col("recon"))
    ivfPqRerank(emb,
      ivfPqProbeLists(emb, centroids, nprobe, nProbes), encoded,
      nProbes, k, rerankM)
  }

  /** IVFADC — the residual-encoded composed index: route, subtract
    * the list centroid, PQ-encode the RESIDUAL `r = x − c(list)`
    * under a codebook trained on residuals, score candidates against
    * the reconstruction `c + decode(r)`. This is the standard
    * billion-scale layout (Jégou et al.'s IVFADC): when vectors
    * CLUSTER, residuals are much smaller than raw vectors and the
    * same codewords quantize them finer.
    *
    * == Measured on this corpus: residuals LOSE ==
    * The gated recall row (`ann_ivfadc_recall_eval`) exists to pin
    * the precondition, not to flatter the method: these embeddings
    * are unit-norm and near-uniform (mean best-centroid cosine
    * 0.175), so the residual norm is 1.28× the RAW norm — the
    * "residuals are small" premise fails, quantization error grows
    * ~28%, and recall@10 measures 0.53 vs 0.63 for raw encoding at
    * identical knobs. A production deployment would A/B exactly this
    * row per corpus and pick the encoding the data supports; both
    * paths are first-class and share every knob, so the comparison
    * isolates the encoding choice.
    */
  def annIvfAdc(emb: DataFrame, centroidMod: Int = 97, numCentroids: Int = 16,
                nprobe: Int = 3, nProbes: Int = 10, k: Int = 10,
                rerankM: Int = IvfPqRerankM): DataFrame = {
    val centroids = seedCentroids(emb, centroidMod, numCentroids)
    val encoded = withResiduals(emb, centroids)
      .crossJoin(broadcast(ivfPqResidualCodebook(emb, centroids)))
      .withColumn("recon", addVec(col("cvec"), VectorFunctions.pqReconstruct(
        col("rvec"), col("cb"), PqM, PqSub, PqK)))
      .select(col("vec_id"), col("centroid_id"), col("recon"))
    ivfPqRerank(emb,
      ivfPqProbeLists(emb, centroids, nprobe, nProbes), encoded,
      nProbes, k, rerankM)
  }

  /** Recall@k of the IVFADC path vs brute force — the per-corpus
    * A/B row next to `ann_ivfpq_recall_eval` (same knobs, only the
    * encoding differs).
    */
  def annIvfAdcRecallEval(emb: DataFrame, k: Int = 10): DataFrame =
    recallVsExact(emb, annIvfAdc(emb, k = k), k)

  /** The recall-vs-nprobe TUNING CURVE: recall@k of the IVF-flat and
    * composed IVF-PQ paths at nprobe ∈ {1, 2, 4, 8}, as one gated
    * multi-row metric. nprobe is the knob a deployment actually
    * turns (probe cost is linear in it; recall saturates toward the
    * assignment ceiling), and a measured curve — not a constant —
    * is what makes the tradeoff tunable: measured at sf0.01,
    * IVF-flat climbs 0.34 / 0.50 / 0.79 / 1.00 and IVF-PQ
    * 0.34 / 0.49 / 0.71 / 0.86 across the sweep — identical while
    * routing dominates (nprobe ≤ 2), with the quantization tax
    * (≤ 0.14) only visible once the probes cover the true
    * neighborhood.
    * Every leg recomputes the search end-to-end (the oracle rebuilds
    * each from scratch too), so the row set re-proves eight search
    * paths and the metric arithmetic at once.
    */
  def annRecallNprobeSweep(emb: DataFrame, k: Int = 10): DataFrame = {
    val legs = for {
      np <- Seq(1, 2, 4, 8)
      (method, search) <- Seq(
        "ivf" -> annIvf(emb, nprobe = np, k = k),
        "ivfpq" -> annIvfPq(emb, nprobe = np, k = k))
    } yield recallVsExact(emb, search, k)
      .select(lit(method).as("method"), lit(np.toLong).as("nprobe"),
        col("hits"), col("total"), col("recall"))
    legs.reduce(_.unionByName(_)).orderBy("method", "nprobe")
  }

  /** Elementwise residual `x − c` as a float array: both operands
    * lifted to double, subtracted (one correctly-rounded IEEE op),
    * rounded back to float — the exact op sequence the DuckDB mirror
    * runs (`(x[d]::DOUBLE - c[d]::DOUBLE)::FLOAT`), so residuals are
    * bit-equal cross-engine.
    */
  private def residualVec(x: Column, c: Column): Column =
    zip_with(x, c, (a, b) =>
      (a.cast("double") - b.cast("double")).cast("float"))

  /** Elementwise `c + r` as a float array — the reconstruction half
    * of the residual hop, same double-then-float discipline.
    */
  private def addVec(c: Column, r: Column): Column =
    zip_with(c, r, (a, b) =>
      (a.cast("double") + b.cast("double")).cast("float"))

  /** Route `vecs` and attach each vector's centroid vector and
    * residual: (vec_id, centroid_id, embedding, cvec, rvec).
    */
  private def withResiduals(vecs: DataFrame, centroids: DataFrame): DataFrame =
    assignToCentroids(vecs, centroids)
      .join(broadcast(centroids), Seq("centroid_id"))
      .withColumn("rvec", residualVec(col("embedding"), col("cvec")))

  /** The IVFADC codebook: [[pqTrainedCodebook]] (seed + one Lloyd
    * round) run over the corpus RESIDUALS under `centroids` instead
    * of the raw vectors. Seeds are the residuals of the same
    * deterministic id slice the raw codebook seeds from, so the
    * training chain (and its SQL mirror) is unchanged — only the
    * input column moves.
    */
  def ivfPqResidualCodebook(vecs: DataFrame, centroids: DataFrame,
                            seedStride: Int = 1): DataFrame =
    pqTrainedCodebook(
      withResiduals(vecs, centroids)
        .select(col("vec_id"), col("rvec").as("embedding")),
      seedStride)

  /** The probe half of IVF routing: each probe ranked against the
    * broadcast centroids, keeping its `nprobe` nearest lists.
    */
  private def ivfPqProbeLists(emb: DataFrame, centroids: DataFrame,
                              nprobe: Int, nProbes: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(round(col("cscore"), 6).desc, col("centroid_id").asc)
    emb.where(col("vec_id") < nProbes)
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("centroid_id"), col("embedding"),
        VectorFunctions.cosine(col("embedding"), col("cvec")).as("cscore"))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("vec_id").as("probe_id"), col("centroid_id"),
        col("embedding").as("probe_vec"))
  }

  /** The candidate + rerank half shared by the inline and persisted
    * IVF-PQ paths: `encoded` is (vec_id, centroid_id, recon) however
    * the caller produced it (fused encode, or decoded stored codes).
    * Each vector is in exactly one list and probeLists has distinct
    * centroids per probe, so each (probe, vec) pair scores at most
    * once — no cross-list dedup stage needed.
    */
  private def ivfPqRerank(emb: DataFrame, probeLists: DataFrame,
                          encoded: DataFrame, nProbes: Int, k: Int,
                          rerankM: Int): DataFrame = {
    val wq = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score_q"), 6).desc, col("vec_id").asc)
    val cand = encoded.join(broadcast(probeLists), Seq("centroid_id"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorFunctions.cosine(col("probe_vec"), col("recon")).as("score_q"))
      .withColumn("rnk_q", row_number().over(wq))
      .where(col("rnk_q") <= rerankM)
      .select(col("probe_id"), col("vec_id"), col("score_q"))
    val probes = emb.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score"), 6).desc, col("vec_id").asc)
    emb.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("score_q"),
        VectorFunctions.cosine(col("probe_vec"), col("embedding")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id"),
        round(col("score"), 4).as("score"), round(col("score_q"), 4).as("score_q"))
      .orderBy("probe_id", "rnk")
  }

  /** Persisted IVF-PQ layout: inverted lists partitioned by
    * centroid_id holding (vec_id, codes) — the code word is [[PqM]]
    * ints per vector ([[graft.functions.expressions.PqEncodeInts]]),
    * which IS what a billion-vector index keeps hot: at 100 TB the
    * lists are ~16 bytes/vector of routable, scannable state while
    * the float payload stays in the base table until rerank.
    */
  def ivfPqListsDir(emb: DataFrame, sfDir: String, centroidMod: Int,
                    numCentroids: Int): String =
    graft.sources.Fixtures.ensure("ivfpqlists", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"m${centroidMod}c${numCentroids}q${PqK}tr1") { dir =>
      ivfPqCorpusBuild(emb, seedCentroids(emb, centroidMod, numCentroids),
        pqTrainedCodebook(emb), dir)
    }

  /** [[annIvfPq]] over the persisted coded lists: rank centroids per
    * probe, scan ONLY the probed list partitions (typed IN filter →
    * partition pruning, pinned in PlanAuditSpec like
    * [[annIvfIndexed]]), decode the stored code words against the
    * broadcast codebook, rerank exactly. Decode-of-stored-codes is
    * bit-equal to the inline fused reconstruction, so the oracle is
    * shared verbatim — the index == inline proof.
    */
  def annIvfPqIndexed(emb: DataFrame, sfDir: String, centroidMod: Int = 97,
                      numCentroids: Int = 16, nprobe: Int = 3,
                      nProbes: Int = 10, k: Int = 10,
                      rerankM: Int = IvfPqRerankM): DataFrame = {
    val spark = emb.sparkSession
    val centroids = seedCentroids(emb, centroidMod, numCentroids)
    val lists = spark.read.parquet(
      ivfPqListsDir(emb, sfDir, centroidMod, numCentroids))
    val probeLists = ivfPqProbeLists(emb, centroids, nprobe, nProbes)
    // r21: read the trained codebook from its write-once fixture
    // ([[pqTrainedCodebookDir]] — the model the lists were encoded
    // under, and what a persisted index obviously stores next to its
    // codes) instead of re-running the whole Lloyd training subtree
    // inside every warm probe. ann_pq_trained already hash-proves the
    // parquet round-trip of this exact fixture against a from-scratch
    // oracle, and this row's own oracle retrains from scratch too, so
    // decode == fused-encode bit-equality is gated either way.
    ivfPqRerank(emb, probeLists,
      ivfPqPrunedDecode(lists, probeLists,
        spark.read.parquet(pqTrainedCodebookDir(emb, sfDir))),
      nProbes, k, rerankM)
  }

  /** The warm read half shared by every coded-list layout: restrict
    * the list scan to the probed partitions (typed IN filter →
    * partition pruning, the annIvfIndexed lesson: a cast on the
    * column side would defeat it), then decode the stored code words
    * against the broadcast codebook.
    */
  private def ivfPqPrunedDecode(lists: DataFrame, probeLists: DataFrame,
                                codebook: DataFrame): DataFrame = {
    val probed = probeLists.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val probedTyped: Seq[Any] =
      if (lists.schema("centroid_id").dataType ==
        org.apache.spark.sql.types.IntegerType) probed.toSeq.map(_.toInt)
      else probed.toSeq
    lists.where(col("centroid_id").isInCollection(probedTyped))
      .select(col("vec_id"),
        col("centroid_id").cast("long").as("centroid_id"), col("codes"))
      // r21 (guide §2.5/§2.6, the fuzzy-blocking lesson): the coded
      // lists are ~16 bytes/vector, so the probed partitions pack
      // into ONE scan split (openCostInBytes) and the downstream
      // decode + candidate cosine — the CPU cost of the probe — ran
      // single-threaded. Spread the CPU stage to the core count; the
      // exchange moves only (vec_id, centroid_id, codes) ≈ 24 B/row.
      .repartition(lists.sparkSession.sparkContext.defaultParallelism)
      .crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("centroid_id"),
        VectorFunctions.pqDecode(col("codes"), col("cb"), PqM, PqSub).as("recon"))
  }

  /** Frozen CORPUS-trained PQ codebook for the coded-list upsert
    * lifecycle: seeds from the even-id corpus (stride 2, still PqK
    * rows), one Lloyd round over corpus vectors only — the model an
    * arriving batch must NOT perturb, mirroring [[upsertCentroidsDir]].
    */
  def pqUpsertCodebookDir(emb: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("ivfpqupcb", sfDir,
      Seq(s"$sfDir/embeddings.parquet"), params = s"k${PqK}r1s2") { dir =>
      pqTrainedCodebook(emb.where(pmod(col("vec_id"), lit(2)) === 0),
          seedStride = 2)
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** Incremental coded-list maintenance: route + PQ-encode an
    * arriving batch under BOTH frozen models (centroids AND codebook)
    * and append the code words into their list partitions. The
    * append moves |batch| x ~PqM ints — at 100 TB the coded index
    * stays current for bytes proportional to the batch, while corpus
    * lists and both models are untouched on disk.
    */
  def ivfPqAppendBatch(batch: DataFrame, centroids: DataFrame,
                       codebook: DataFrame, listsDir: String): Unit =
    routedCodes(batch, centroids, codebook)
      .write.mode("append").partitionBy("centroid_id").parquet(listsDir)

  /** (vec_id, centroid_id, codes) for a slice of vectors under given
    * models — the row shape every coded-list write shares.
    */
  private def routedCodes(vecs: DataFrame, centroids: DataFrame,
                          codebook: DataFrame): DataFrame =
    assignToCentroids(vecs, centroids)
      .crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("centroid_id"),
        VectorFunctions.pqEncode(
          col("embedding"), col("cb"), PqM, PqSub, PqK).as("codes"))

  /** One-shot corpus build of a coded-list layout (overwrite) — the
    * step the upsert/delete fixtures and the streamed front door all
    * start from.
    */
  def ivfPqCorpusBuild(corpus: DataFrame, centroids: DataFrame,
                       codebook: DataFrame, listsDir: String): Unit =
    routedCodes(corpus, centroids, codebook)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(listsDir)

  /** Write-once UPSERTED coded lists: even-id corpus encoded + routed
    * under the corpus-frozen models, odd-id batch
    * [[ivfPqAppendBatch]]-ed in place; `_UPSERTED` marks the
    * two-write build complete (the [[ivfUpsertListsDir]] crash
    * discipline).
    */
  def ivfPqUpsertListsDir(emb: DataFrame, sfDir: String,
                          centroidMod: Int, numCentroids: Int): String =
    Fixtures.ensure("ivfpquplists", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"m${centroidMod}c${numCentroids}q$PqK",
      validate = d => new java.io.File(d, "_UPSERTED").exists()) { dir =>
      Fixtures.cleanBuild(dir, Seq("_UPSERTED")) {
        ivfPqCorpusAndBatch(emb, sfDir, centroidMod, numCentroids, dir)
      }
    }

  /** The build both coded-list fixtures share: the even-id corpus
    * encoded and routed under the corpus-frozen models, then the
    * odd-id batch [[ivfPqAppendBatch]]-ed in place.
    */
  private def ivfPqCorpusAndBatch(emb: DataFrame, sfDir: String,
                                  centroidMod: Int, numCentroids: Int,
                                  dir: String): Unit = {
    val spark = emb.sparkSession
    val centroids = spark.read.parquet(upsertCentroidsDir(emb, sfDir,
      centroidMod, numCentroids, 1, 0.0))
    val codebook = spark.read.parquet(pqUpsertCodebookDir(emb, sfDir))
    ivfPqCorpusBuild(emb.where(pmod(col("vec_id"), lit(2)) === 0),
      centroids, codebook, dir)
    ivfPqAppendBatch(emb.where(pmod(col("vec_id"), lit(2)) === 1),
      centroids, codebook, dir)
  }

  /** Steady-state search over the upserted coded lists with both
    * frozen models. Output equals a from-scratch rebuild over
    * corpus ∪ batch under the same models — the oracle retrains the
    * codebook and centroids from the corpus slice and re-encodes
    * everything, so a batch row encoded or routed differently than
    * the rebuild would reds the hash (append == rebuild, the coded
    * twin of [[annIvfUpsert]]).
    */
  def annIvfPqUpsert(emb: DataFrame, sfDir: String, centroidMod: Int = 98,
                     numCentroids: Int = 16, nprobe: Int = 3,
                     nProbes: Int = 10, k: Int = 10,
                     rerankM: Int = IvfPqRerankM): DataFrame = {
    val spark = emb.sparkSession
    val lists = spark.read.parquet(
      ivfPqUpsertListsDir(emb, sfDir, centroidMod, numCentroids))
    annIvfPqOverLists(emb, sfDir, lists, centroidMod, numCentroids,
      nprobe, nProbes, k, rerankM)
  }

  /** Probe ARBITRARY coded lists under the frozen upsert models —
    * the shared warm front for every maintenance path that lands
    * rows in the coded layout (batch upsert, streamed fold).
    */
  def annIvfPqOverLists(emb: DataFrame, sfDir: String, lists: DataFrame,
                        centroidMod: Int = 98, numCentroids: Int = 16,
                        nprobe: Int = 3, nProbes: Int = 10, k: Int = 10,
                        rerankM: Int = IvfPqRerankM): DataFrame = {
    val spark = emb.sparkSession
    val centroids = spark.read.parquet(upsertCentroidsDir(emb, sfDir,
      centroidMod, numCentroids, 1, 0.0))
    val codebook = spark.read.parquet(pqUpsertCodebookDir(emb, sfDir))
    val probeLists = ivfPqProbeLists(emb, centroids, nprobe, nProbes)
    ivfPqRerank(emb, probeLists,
      ivfPqPrunedDecode(lists, probeLists, codebook), nProbes, k, rerankM)
  }

  /** Write-once tombstoned coded lists: the upsert build plus a
    * [[ivfDeleteBatch]] of the deterministic delete slice (the
    * tombstone log is layout-agnostic — ids only). `_DELETED` marks
    * the three-step build complete.
    */
  def ivfPqDeleteIndexDir(emb: DataFrame, sfDir: String,
                          centroidMod: Int, numCentroids: Int): String =
    Fixtures.ensure("ivfpqdellists", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"m${centroidMod}c${numCentroids}q$PqK",
      validate = d => new java.io.File(d, "_DELETED").exists()) { dir =>
      Fixtures.cleanBuild(dir, Seq("_DELETED")) {
        ivfPqCorpusAndBatch(emb, sfDir, centroidMod, numCentroids, dir)
        ivfDeleteBatch(emb.where(
          pmod(col("vec_id"), lit(IvfDeleteMod)) === IvfDeleteRes), dir)
      }
    }

  /** DELETE over the coded lists: the tombstone log subtracted by a
    * broadcast anti join BEFORE decode — partition pruning survives
    * on the preserved side, a deleted vector can never be returned,
    * the lists on disk stay untouched, and [[compactIvfLists]] (the
    * layout-agnostic rewrite) applies the log physically when it
    * runs. Completes the coded lifecycle: build → probe → append →
    * delete → compact.
    */
  def annIvfPqDelete(emb: DataFrame, sfDir: String, centroidMod: Int = 98,
                     numCentroids: Int = 16, nprobe: Int = 3,
                     nProbes: Int = 10, k: Int = 10,
                     rerankM: Int = IvfPqRerankM): DataFrame = {
    val spark = emb.sparkSession
    val centroids = spark.read.parquet(upsertCentroidsDir(emb, sfDir,
      centroidMod, numCentroids, 1, 0.0))
    val codebook = spark.read.parquet(pqUpsertCodebookDir(emb, sfDir))
    val dir = ivfPqDeleteIndexDir(emb, sfDir, centroidMod, numCentroids)
    val live = IndexVersion.withoutTombstones(spark.read.parquet(dir), dir,
      "vec_id")
    val probeLists = ivfPqProbeLists(emb, centroids, nprobe, nProbes)
    ivfPqRerank(emb, probeLists,
      ivfPqPrunedDecode(live, probeLists, codebook), nProbes, k, rerankM)
  }

  /** Recall@k of the composed IVF-PQ path vs brute force — measures
    * what routing misses and quantization blurs TOGETHER, next to
    * [[annRecallEval]] (routing only) and [[annPqRecallEval]]
    * (quantization only).
    */
  def annIvfPqRecallEval(emb: DataFrame, k: Int = 10): DataFrame =
    recallVsExact(emb, annIvfPq(emb, k = k), k)

  private def annPqFrom(emb: DataFrame, codebook: DataFrame, nProbes: Int,
                        k: Int, rerankM: Int): DataFrame = {
    // per subspace m: argmin_j ( |c|^2 - 2 x·c ) with ties to the
    // lowest j, then concatenate the winning rows' slices — one
    // native pass per vector (PqReconstructFloat; the interpreted
    // nested-transform formulation ran the same math as per-element
    // Catalyst lambdas, 34 s at the 10x sweep, bit-equal results)
    val encoded = emb.crossJoin(broadcast(codebook))
      .withColumn("recon", VectorFunctions.pqReconstruct(
        col("embedding"), col("cb"), PqM, PqSub, PqK))
      .select(col("vec_id"), col("recon"))
    val probes = emb.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val wq = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score_q"), 6).desc, col("vec_id").asc)
    val cand = encoded.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        VectorFunctions.cosine(col("probe_vec"), col("recon")).as("score_q"))
      .withColumn("rnk_q", row_number().over(wq))
      .where(col("rnk_q") <= rerankM)
      .select(col("probe_id"), col("vec_id"), col("score_q"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score"), 6).desc, col("vec_id").asc)
    emb.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("score_q"),
        VectorFunctions.cosine(col("probe_vec"), col("embedding")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id"),
        round(col("score"), 4).as("score"), round(col("score_q"), 4).as("score_q"))
      .orderBy("probe_id", "rnk")
  }

  // ===== NSW-style graph ANN (the seventh index family) =====

  /** Neighbors kept per vector per partitioning leg of the k-NN
    * graph. */
  val NswG = 6
  /** Beam width of the bounded best-first search. Raised 16 → 32
    * after `ann_nsw_beam_sweep` priced the knob over the SAME
    * persisted adjacency: recall@10 0.49 / 0.73 / 0.94 at beam
    * 8/16/32 (sf0.01), probe cost linear in beam and corpus-size-
    * independent — beam 32 fully recovers (and beats) the retired
    * quadratic build's 0.81 at ~2× probe, so shipping the default
    * at 0.73 was leaving measured recall on the table. The sweep
    * row remains the price list for corpora that want it cheaper.
    */
  val NswBeam = 32
  /** Fixed expansion-round budget — probe cost is O(beam · G ·
    * rounds) exact cosines, INDEPENDENT of corpus size. */
  val NswRounds = 4
  /** Entry vertices (vec_id < NswEntries) seeding every walk. */
  val NswEntries = 4
  /** Seed-offset mods of the main family's graph. TWO overlapping
    * partitionings is the navigability trick: within-one-clustering
    * edges can never leave their cluster, so a single partition
    * strands any probe whose true neighbors live elsewhere (measured
    * recall 0.35); the union of two independently-seeded partitions
    * creates the cross-links a navigable small-world graph needs.
    * Under the adaptive-K hash-spread rule the mod is the HASH
    * OFFSET, not a divisor — two offsets select two independent
    * seed spreads from the same corpus. */
  val NswMods: Seq[Int] = Seq(97, 89)
  /** Distinct seed offsets for the upsert lifecycle, so the frozen
    * corpus models are a different partitioning pair than the main
    * family's (seeds always come from the corpus slice itself —
    * [[nswSeedCentroids]] filters the relation it is given). */
  val NswUpsertMods: Seq[Int] = Seq(98, 90)

  /** Hash-spread seed centroids of one NSW partitioning leg: the
    * [[seedCentroidsStride]] rule with the leg's mod as the hash
    * offset — `(vec_id + mod) % P % stride == 0`, smallest-k cap —
    * so the legs select INDEPENDENT ~k-id spreads from the same
    * corpus while staying robust to sparse/shifted id layouts (the
    * 10x/100x replica shape a plain `vec_id % mod` rule collapses
    * on). (k, stride) come from [[semAdaptiveParams]]: K =
    * max(16, ceil(sqrt n)), the formula that keeps the build's
    * within-cluster pair work ~n^1.5 instead of n²/const — a fixed
    * cluster count is all-pairs over 1/K of the corpus at 100 TB,
    * a build-path scale killer.
    */
  private def nswSeedCentroids(emb: DataFrame, mod: Int, k: Int,
                               stride: Long): DataFrame =
    emb
      .where(pmod(col("vec_id") + mod,
        lit(graft.functions.expressions.CmsHash.P)) % stride === 0)
      .orderBy(col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))

  /** One leg's cluster assignment under the adaptive hash-spread
    * seeds — exposed for the scale spec's pair-work audit. */
  private[graft] def nswAssignment(universe: DataFrame, mod: Int, k: Int,
                                   stride: Long): DataFrame =
    assignToCentroids(universe, nswSeedCentroids(universe, mod, k, stride))

  /** k-NN neighbor-graph edges of `universe`: for each partitioning
    * leg, vectors pair WITHIN their max-cosine cluster (never
    * all-pairs — the semantic-dedup bound: with K clusters the pair
    * count is Σ|cluster|², and K grows as ⌈√n⌉ via
    * [[semAdaptiveParams]] exactly like [[semanticDedup]]'s adaptive
    * clustering, holding construction at ~n^1.5), each keeps its
    * [[NswG]] nearest, and the union over legs is symmetrized.
    * Construction is a write-once index build ([[nswIndexDir]]) —
    * probes never pay it. The count() deriving (k, stride) is a
    * parquet-metadata read, not a data pass; `explicitParams` pins
    * it for specs.
    */
  def nswEdges(universe: DataFrame, mods: Seq[Int],
               explicitParams: Option[(Int, Long)] = None): DataFrame = {
    val (k, stride) = explicitParams.getOrElse(semAdaptiveParams(universe.count()))
    val legs = mods.map { mod =>
      val assigned = nswAssignment(universe, mod, k, stride)
      nswTopG(assigned, assigned)
    }
    symmetrize(legs.reduce(_.unionByName(_)))
  }

  /** Top-[[NswG]] cosine neighbors of each `left` vector among the
    * `right` vectors sharing its cluster (both sides carry
    * (vec_id, centroid_id, embedding)): the one shuffled join of
    * graph construction, keyed on the cluster id, trimmed by the
    * rank window BEFORE anything else consumes it.
    */
  private def nswTopG(left: DataFrame, right: DataFrame): DataFrame = {
    val r = right.select(col("centroid_id"), col("vec_id").as("dst"),
      col("embedding").as("demb"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(round(col("s"), 6).desc, col("dst").asc)
    left.join(r, Seq("centroid_id"))
      .where(col("dst") =!= col("vec_id"))
      .select(col("vec_id"), col("dst"),
        VectorFunctions.cosine(col("embedding"), col("demb")).as("s"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= NswG)
      .select(col("vec_id").as("src"), col("dst"))
  }

  private def symmetrize(e: DataFrame): DataFrame =
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** Bounded best-first beam search over a neighbor graph — the
    * probe half every NSW leg shares. `probesSrc` supplies the query
    * vectors (always the full corpus — a tombstoned id can still
    * QUERY); `vertices` is the SEARCHABLE set (delete leg passes the
    * live subset: a dead vertex is neither returned nor traversed,
    * because candidates only enter the walk through the vertices
    * join). Per round: the current top-[[NswBeam]] visited vertices
    * expand their adjacency lists, unseen neighbors are scored by
    * EXACT cosine (a graph index quantizes nothing), and the beam
    * re-ranks. [[NswRounds]] rounds bound the walk, so probe cost is
    * O(beam · G · rounds) score rows per probe at ANY corpus size —
    * the frontier loop is [[graft.operators.GraphOps]]'s deltaRelax
    * shape with per-round lineage truncation.
    */
  def annNswOverEdges(probesSrc: DataFrame, vertices: DataFrame,
                      edges: DataFrame, nProbes: Int = 10,
                      k: Int = 10,
                      entryCount: Int = NswEntries,
                      beam: Int = NswBeam): DataFrame = {
    val verts = vertices.select(col("vec_id"), col("embedding"))
    val probes = probesSrc.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val entries = verts.where(col("vec_id") < entryCount)
    val wB = Window.partitionBy(col("probe_id"))
      .orderBy(round(col("score"), 6).desc, col("vec_id").asc)
    // localCheckpoint (not scratchParquet) on purpose: an r21 A/B
    // swapped the visited set to per-round parquet and the indexed
    // rows got ~25% slower — the corpus-vertices side already carries
    // parquet stats and broadcasts fine, so the writes bought nothing
    var visited = Checkpoints.truncate(
      probes.crossJoin(broadcast(entries))
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          VectorFunctions.cosine(col("probe_vec"), col("embedding"))
            .as("score")))
    for (_ <- 1 to NswRounds) {
      val front = visited.withColumn("rn", row_number().over(wB))
        .where(col("rn") <= beam).select("probe_id", "vec_id")
      val unseen = front.join(edges, front("vec_id") === edges("src"))
        .select(col("probe_id"), col("dst").as("vec_id")).distinct()
        .where(col("vec_id") =!= col("probe_id"))
        .join(visited.select("probe_id", "vec_id"),
          Seq("probe_id", "vec_id"), "left_anti")
      val newScored = unseen
        .join(verts, Seq("vec_id"))
        .join(probes, Seq("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          VectorFunctions.cosine(col("probe_vec"), col("embedding"))
            .as("score"))
      visited = Checkpoints.truncate(visited.unionByName(newScored))
    }
    visited.withColumn("rnk", row_number().over(wB).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id"),
        round(col("score"), 4).as("score"))
      .orderBy("probe_id", "rnk")
  }

  /** Graph-ANN search with an inline-built graph. Measured recall@10
    * = 0.73 at sf0.01 under adaptive-K construction — still the best
    * of the seven index families (IVF 0.65, SQ8 1.0 but full-scan,
    * composed IVF-PQ 0.63), because the walk scores ~300 candidates
    * EXACTLY with no routing cliff. (The retired fixed-16 clustering
    * measured 0.81 here, but its build was all-pairs over n/16-sized
    * clusters — quadratic at 100 TB; adaptive K trades those recall
    * points for the ~n^1.5 build bound.)
    */
  def annNsw(emb: DataFrame, nProbes: Int = 10, k: Int = 10): DataFrame =
    // r21: the inline-built adjacency is materialized ONCE — left
    // lazy, every walk round's action re-ran the whole ~n^1.5 graph
    // construction (rounds are separate executions; exchange reuse
    // never crosses them), which is exactly what the indexed twin
    // avoids by reading parquet. The walk itself is unchanged.
    annNswOverEdges(emb, emb,
      Checkpoints.scratchParquet(nswEdges(emb, NswMods), "nsw_edges"),
      nProbes, k)

  /** Recall@k of the graph walk vs brute force. The approx side
    * walks the PERSISTED adjacency ([[nswIndexDir]]) rather than
    * re-running the inline build (r18 verdict #5: the eval row was
    * double-paying the ~n^1.5 construction that `ann_nsw` and
    * `ann_nsw_indexed` already gate — ~500 s of the 100× bench for
    * zero extra evidence). index == inline is hash-proven by
    * `ann_nsw_indexed` sharing `nswOracleSql` verbatim, so the
    * metric row's semantics are unchanged; the entry-sweep row set
    * the precedent.
    */
  def annNswRecallEval(emb: DataFrame, sfDir: String,
                       k: Int = 10): DataFrame =
    recallVsExact(emb, annNswIndexed(emb, sfDir, k = k), k)

  /** Entry-count tuning curve for the graph family — the measured
    * price list for the adaptive-K recall loss (r17 verdict #6: the
    * ~n^1.5 build moved recall@10 0.81 → 0.73; this row prices the
    * recovery lever that costs NO rebuild). The SAME persisted
    * adaptive-K adjacency is walked from `entries` ∈ {4, 8, 16} seed
    * vertices; more entries widen the walk's reachable basin without
    * touching the graph, and probe cost grows only LINEARLY in
    * entries at fixed beam (entries + rounds·beam·G scored rows per
    * probe — still corpus-size-independent). Measured at sf0.01:
    * recall@10 0.73 / 0.76 / 0.79 at 4 / 8 / 16 entries — 16 entries
    * buys back ~¾ of the retired quadratic build's 0.81 for 12 extra
    * scored rows per probe (~4% of the walk's ~300); closing the
    * rest is a beam/G lever, priced separately if a corpus demands
    * it. The default stays [[NswEntries]] so every standing gate row
    * keeps its layout; a deployment turns this knob per corpus
    * exactly like ann_recall_nprobe_sweep's nprobe.
    */
  def annNswEntrySweep(emb: DataFrame, sfDir: String,
                       k: Int = 10): DataFrame = {
    val edges =
      emb.sparkSession.read.parquet(nswIndexDir(emb, sfDir))
    val legs = NswEntrySweep.map { e =>
      recallVsExact(emb,
        annNswOverEdges(emb, emb, edges, k = k, entryCount = e), k)
        .select(lit(e.toLong).as("entries"),
          col("hits"), col("total"), col("recall"))
    }
    legs.reduce(_.unionByName(_)).orderBy("entries")
  }

  /** The swept entry counts; shared with the generated oracle. */
  val NswEntrySweep: Seq[Int] = Seq(4, 8, 16)

  /** Beam-width tuning curve for the graph family (r18 verdict #7 —
    * the lever the entry-sweep doc promised to price): recall@10 of
    * the SAME persisted adaptive-K adjacency walked at beam ∈
    * {8, 16, 32} with entries and rounds fixed at their defaults.
    * Beam is the walk's second no-rebuild knob: per round the top-
    * `beam` visited vertices expand, so probe cost grows linearly in
    * beam (rounds·beam·G scored rows) and stays corpus-size-
    * independent. With the entry sweep this completes the published
    * recall/cost surface a deployment tunes against — entries widens
    * the START of the walk, beam widens every SUBSEQUENT round.
    */
  def annNswBeamSweep(emb: DataFrame, sfDir: String,
                      k: Int = 10): DataFrame = {
    val edges =
      emb.sparkSession.read.parquet(nswIndexDir(emb, sfDir))
    val legs = NswBeamSweep.map { b =>
      recallVsExact(emb,
        annNswOverEdges(emb, emb, edges, k = k, beam = b), k)
        .select(lit(b.toLong).as("beam"),
          col("hits"), col("total"), col("recall"))
    }
    legs.reduce(_.unionByName(_)).orderBy("beam")
  }

  /** The swept beam widths; shared with the generated oracle. */
  val NswBeamSweep: Seq[Int] = Seq(8, 16, 32)

  /** Write-once persisted adjacency — the state a graph index
    * actually keeps: ~2·mods·G edge rows per vector (ids only; the
    * float payload stays in the base table and is fetched per
    * visited candidate).
    */
  def nswIndexDir(emb: DataFrame, sfDir: String): String =
    graft.sources.Fixtures.ensure("nswedges", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"g${NswG}m${NswMods.mkString("x")}ak") { dir =>
      nswEdges(emb, NswMods).write.mode("overwrite").parquet(dir)
    }

  /** [[annNsw]] over the persisted adjacency — shares the inline
    * oracle verbatim (index == inline proof, the family discipline).
    */
  def annNswIndexed(emb: DataFrame, sfDir: String, nProbes: Int = 10,
                    k: Int = 10): DataFrame =
    annNswOverEdges(emb, emb,
      emb.sparkSession.read.parquet(nswIndexDir(emb, sfDir)), nProbes, k)

  /** Append an arriving batch into a persisted graph: each batch
    * vector routes under the FROZEN corpus partitionings and links to
    * its top-[[NswG]] corpus members of that cluster, both directions
    * appended. The contract is deliberately corpus-anchored (no
    * batch-batch links, corpus adjacency untouched) — the IVF-append
    * discipline: arrivals attach to the frozen structure for
    * O(|batch|) work and the model refreshes at the next offline
    * rebuild. The oracle replays THIS contract from scratch, so the
    * gate pins append == its defined rebuild.
    */
  def nswAppendBatch(batch: DataFrame, corpus: DataFrame,
                     edgesDir: String,
                     batchId: Option[Long] = None): Unit = {
    val (k, stride) = semAdaptiveParams(corpus.count())
    val legs = NswUpsertMods.map { mod =>
      val centroids = nswSeedCentroids(corpus, mod, k, stride)
      nswTopG(assignToCentroids(batch, centroids),
        assignToCentroids(corpus, centroids))
    }
    val edges = symmetrize(legs.reduce(_.unionByName(_)))
    batchId match {
      // streamed fold: each micro-batch owns its batch_id= partition
      // and OVERWRITES it, so an at-least-once redelivery lands the
      // identical files instead of duplicating edge rows (the
      // idempotent batch_id= sink discipline the event sinks use)
      case Some(id) =>
        edges.write.mode("overwrite").parquet(s"$edgesDir/batch_id=$id")
      case None => edges.write.mode("append").parquet(edgesDir)
    }
  }

  /** Write-once UPSERTED graph: even-id corpus adjacency under the
    * even-seeded partitionings ([[NswUpsertMods]]), odd-id batch
    * [[nswAppendBatch]]-ed in place; `_UPSERTED` marks the two-write
    * build complete (the ivfUpsertListsDir crash discipline).
    */
  def nswUpsertEdgesDir(emb: DataFrame, sfDir: String): String =
    Fixtures.ensure("nswuped", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"g${NswG}m${NswUpsertMods.mkString("x")}ak",
      validate = d => new java.io.File(d, "_UPSERTED").exists()) { dir =>
      Fixtures.cleanBuild(dir, Seq("_UPSERTED")) {
        val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
        nswEdges(corpus, NswUpsertMods)
          .write.mode("overwrite").parquet(dir)
        nswAppendBatch(emb.where(pmod(col("vec_id"), lit(2)) === 1),
          corpus, dir)
      }
    }

  /** Search the upserted graph: corpus ∪ batch all reachable. */
  def annNswUpsert(emb: DataFrame, sfDir: String, nProbes: Int = 10,
                   k: Int = 10): DataFrame =
    annNswOverEdges(emb, emb,
      emb.sparkSession.read.parquet(nswUpsertEdgesDir(emb, sfDir)),
      nProbes, k)

  /** DELETE over the graph: the deterministic tombstone slice
    * (vec_id % [[IvfDeleteMod]] == [[IvfDeleteRes]], the layout-
    * agnostic id log every vector index shares) is subtracted from
    * the SEARCHABLE vertex set — a dead vertex is neither returned
    * nor traversed (it can't relay a walk), while the adjacency on
    * disk stays untouched until compaction. Probes still come from
    * the full corpus: a deleted id may query, never answer.
    */
  def annNswDelete(emb: DataFrame, sfDir: String, nProbes: Int = 10,
                   k: Int = 10): DataFrame = {
    val live = emb.where(
      pmod(col("vec_id"), lit(IvfDeleteMod)) =!= IvfDeleteRes)
    annNswOverEdges(emb, live,
      emb.sparkSession.read.parquet(nswUpsertEdgesDir(emb, sfDir)),
      nProbes, k)
  }

  /** Output files of a compacted NSW adjacency — a small constant,
    * so a year of appends collapses back to a handful of full
    * parquet footers per probe (at cluster scale this would be
    * proportional to executor count, not to append history). */
  val NswCompactFiles = 8

  /** Compact a tombstoned NSW adjacency — the graph family's
    * deferred physical delete, completing its lifecycle (build →
    * probe → append → delete → COMPACT, the [[compactIvfLists]]
    * discipline). Every edge touching a tombstoned vertex is
    * dropped: a dead vertex is neither returned nor traversed
    * ([[annNswDelete]] filters it from the searchable set), so its
    * edges can never influence a walk — removing them changes no
    * probe answer while stopping the tombstone set from occupying
    * adjacency storage forever. The rewrite hash-clusters edges by
    * src into [[NswCompactFiles]] whole files (one file per writer
    * task — the small-files tax of per-batch appends paid down) and
    * publishes by [[IndexVersion.publishDir]]: a crash leaves the
    * old layout (recoverable at `_old`) or the new one, never
    * neither (single-process publish). Any `batch_id=`
    * partitioning of the streamed layout is deliberately flattened —
    * compaction is where append history stops mattering.
    */
  def compactNswEdges(spark: org.apache.spark.sql.SparkSession,
                      edgesDir: String, tombstones: DataFrame): Unit = {
    val dead = tombstones.select(col("vec_id")).distinct()
    val kept = spark.read.parquet(edgesDir)
      .select(col("src"), col("dst"))
      .join(broadcast(dead.select(col("vec_id").as("src"))),
        Seq("src"), "left_anti")
      .join(broadcast(dead.select(col("vec_id").as("dst"))),
        Seq("dst"), "left_anti")
      .select(col("src"), col("dst"))
      .repartition(NswCompactFiles, col("src"))
    IndexVersion.publishDir(edgesDir)(kept.write.parquet)
  }

  /** Write-once COMPACTED graph layout: a byte-equivalent copy of
    * the upserted adjacency, [[compactNswEdges]]-ed in place against
    * the shared tombstone slice — the fixture exercises the real
    * rewrite + rename path. `_COMPACTED` lands only after the
    * compaction completes (the parquet commit's own `_SUCCESS`
    * already exists after step one, so it cannot mark this build).
    */
  def nswCompactedEdgesDir(emb: DataFrame, sfDir: String): String =
    Fixtures.ensure("nswcomp", sfDir,
      Seq(s"$sfDir/embeddings.parquet"),
      params = s"g${NswG}m${NswUpsertMods.mkString("x")}ak",
      validate = d => new java.io.File(d, "_COMPACTED").exists()) { dir =>
      Fixtures.cleanBuild(dir, Seq("_COMPACTED")) {
        val spark = emb.sparkSession
        spark.read.parquet(nswUpsertEdgesDir(emb, sfDir))
          .select(col("src"), col("dst"))
          .write.mode("overwrite").parquet(dir)
        compactNswEdges(spark, dir,
          emb.where(pmod(col("vec_id"), lit(IvfDeleteMod)) === IvfDeleteRes)
            .select(col("vec_id")))
      }
    }

  /** The delete probe read off the COMPACTED adjacency: identical
    * answer to [[annNswDelete]] (a dead vertex's edges were already
    * unusable — candidates only enter the walk through the live
    * vertices join — so physically removing them is invisible to
    * search) and gated by the same from-scratch oracle.
    */
  def annNswCompacted(emb: DataFrame, sfDir: String, nProbes: Int = 10,
                      k: Int = 10): DataFrame = {
    val live = emb.where(
      pmod(col("vec_id"), lit(IvfDeleteMod)) =!= IvfDeleteRes)
    annNswOverEdges(emb, live,
      emb.sparkSession.read.parquet(nswCompactedEdgesDir(emb, sfDir)),
      nProbes, k)
  }
}
