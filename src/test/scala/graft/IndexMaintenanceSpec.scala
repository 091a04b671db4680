package graft

import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, SimilarityOps}

/** The user-managed index lifecycle: build → probe → fold/append →
  * compact. Each maintenance step must be indistinguishable from a
  * full rebuild to every later reader — these specs prove that
  * equality for the LSH band index (fold-in) and the IVF inverted
  * lists (append + compaction), on arbitrary non-parity splits.
  */
class IndexMaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val docs = Tables.documents(spark, TestSpark.Sf0001).cache()
  lazy val emb = Tables.embeddings(spark, TestSpark.Sf0001).cache()
  lazy val tmpRoot =
    java.nio.file.Files.createTempDirectory("lshdel").toString

  test("LSH fold-in: appended bands + merged counts equal a full index rebuild") {
    // arbitrary split: corpus = mod-3 nonzero, accepted batch = mod 3
    val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val root = java.nio.file.Files.createTempDirectory("lshfold").toString
    val folded = s"$root/folded"
    val rebuilt = s"$root/rebuilt"
    DedupOps.writeLshIndex(corpus, folded)
    DedupOps.foldBatchIntoLshIndex(batch, folded)
    DedupOps.writeLshIndex(docs, rebuilt)

    def bands(dir: String) = spark.read.parquet(s"$dir/bands")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(identity).toSeq
    def counts(dir: String) = spark.read.parquet(s"$dir/band_counts")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq
    assert(bands(folded) === bands(rebuilt), "folded bands != rebuilt bands")
    assert(counts(folded) === counts(rebuilt), "merged counts != recounted")

    // a later arriving batch probes both indexes identically
    val probe = docs.where(pmod(col("doc_id"), lit(7)) === 1)
    def pairs(dir: String) = DedupOps.nearDedupProbe(probe, docs, dir,
        threshold = 0.8, maxBucket = 1000, includeBatchSelfPairs = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val a = pairs(folded)
    assert(a === pairs(rebuilt))
    assert(a.nonEmpty, "fixture must exercise the probe path")
  }

  test("LSH fold-in: count merge advances in place and a crash-safe rename publishes it") {
    val corpus = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val batch = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val dir = java.nio.file.Files.createTempDirectory("lshcnt").toString
    DedupOps.writeLshIndex(corpus, dir)
    val before = spark.read.parquet(s"$dir/band_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    DedupOps.foldBatchIntoLshIndex(batch, dir)
    val after = spark.read.parquet(s"$dir/band_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every pre-existing band's count is >= its old value (appends
    // never shrink a bucket), and the staging dir is gone
    before.foreach { case (b, n) =>
      assert(after.getOrElse(b, 0L) >= n, s"band $b count shrank")
    }
    assert(after.values.sum > before.values.sum)
    assert(!new java.io.File(dir, "band_counts_next").exists(),
      "staging dir must be renamed away after the merge commits")
  }

  test("concurrent-writer contract: interleaved folds CAS the version or fail loudly") {
    import graft.operators.IndexVersion
    // two writers fold DIFFERENT batches into the SAME index: writer A
    // claims the v0→v1 slot and stalls mid-fold (simulated by claiming
    // the slot directly); writer B's whole fold must then refuse —
    // BEFORE appending anything — rather than merge counts computed
    // from the pre-A state over A's publish (the lost update the
    // single-host flock hides in this sandbox but a cluster would hit)
    val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val batchB = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("lshcas").toString
    DedupOps.writeLshIndex(corpus, dir)
    assert(IndexVersion.current(dir) === 0L, "fresh build is v0")

    val slotA = IndexVersion.begin(dir) // writer A, mid-fold
    assert(slotA === 1L)
    val bandsBefore = spark.read.parquet(s"$dir/bands").count()
    val e = intercept[java.util.ConcurrentModificationException] {
      DedupOps.foldBatchIntoLshIndex(batchB, dir)
    }
    assert(e.getMessage.contains("v1"), s"loud slot id in: ${e.getMessage}")
    assert(spark.read.parquet(s"$dir/bands").count() === bandsBefore,
      "the refused fold must not have appended a single band row")

    // A completes and seals its slot; B retries from the live state
    // and serializes cleanly behind it — versions advance 1, 2
    IndexVersion.commit(dir, slotA)
    assert(IndexVersion.current(dir) === 1L)
    DedupOps.foldBatchIntoLshIndex(batchB, dir)
    assert(IndexVersion.current(dir) === 2L,
      "a completed fold seals exactly one version slot")

    // crash recovery is loud, not silent: an intent marker without its
    // commit (A crashed mid-fold) blocks the next writer too
    val crashDir = java.nio.file.Files.createTempDirectory("lshcrash").toString
    DedupOps.writeLshIndex(corpus, crashDir)
    IndexVersion.begin(crashDir) // crashed writer: intent, no commit
    intercept[java.util.ConcurrentModificationException] {
      DedupOps.foldBatchIntoLshIndex(batchB, crashDir)
    }
  }

  test("semantic fold: a fold over a held version slot throws before it appends anything") {
    import graft.operators.IndexVersion
    val corpus = emb.where(pmod(col("vec_id"), lit(3)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("semcas").toString
    SimilarityOps.writeSemIndex(corpus, dir)
    def labels() = spark.read.parquet(s"$dir/assign").count()
    def counts() = spark.read.parquet(s"$dir/cluster_counts")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val (labelsBefore, countsBefore) = (labels(), counts())

    val slotA = IndexVersion.begin(dir) // another writer, mid-fold
    intercept[java.util.ConcurrentModificationException] {
      SimilarityOps.foldBatchIntoSemIndex(batch, dir)
    }
    assert(labels() === labelsBefore,
      "the refused fold must not have appended a single label row")
    assert(counts() === countsBefore, "the refused fold must not merge counts")

    // once the holder seals its slot the fold runs and seals the next
    IndexVersion.commit(dir, slotA)
    SimilarityOps.foldBatchIntoSemIndex(batch, dir)
    assert(IndexVersion.current(dir) === 2L)
    assert(labels() === emb.count())
  }

  test("IVF compaction: one file per list partition, identical rows, identical probe") {
    val (centroids, _) = SimilarityOps.lloydIterate(
      emb, iterations = 1, moveEps = 0.0, centroidMod = 97, numCentroids = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfcomp")
      .resolve("lists").toString
    // three append rounds -> >= 2 files in every touched partition
    SimilarityOps.ivfAppendBatch(
      emb.where(pmod(col("vec_id"), lit(3)) === 0), centroids, dir)
    SimilarityOps.ivfAppendBatch(
      emb.where(pmod(col("vec_id"), lit(3)) === 1), centroids, dir)
    SimilarityOps.ivfAppendBatch(
      emb.where(pmod(col("vec_id"), lit(3)) === 2), centroids, dir)

    def rows(d: String) = spark.read.parquet(d)
      .select(col("vec_id"), col("centroid_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    def partFiles(d: String): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent.getFileName.toString)
        .map { case (k, v) => k -> v.size }
    }
    val beforeRows = rows(dir)
    val beforeProbe = SimilarityOps.indexedSearch(emb, centroids,
      spark.read.parquet(dir), nprobe = 3, nProbes = 10, k = 10).collect().toSeq
    assert(partFiles(dir).values.max >= 2, "appends should have split files")

    SimilarityOps.compactIvfLists(spark, dir)
    assert(rows(dir) === beforeRows, "compaction changed the row set")
    assert(partFiles(dir).values.max === 1,
      s"each list must be one file after compaction: ${partFiles(dir)}")
    assert(!new java.io.File(dir + "_next").exists())
    val afterProbe = SimilarityOps.indexedSearch(emb, centroids,
      spark.read.parquet(dir), nprobe = 3, nProbes = 10, k = 10).collect().toSeq
    assert(afterProbe === beforeProbe)
  }

  test("NSW compaction: dead-touching edges dropped exactly, bounded files, identical delete probe") {
    // a standalone upsert-shaped layout in a temp dir (arbitrary
    // split, NOT the gated fixture): corpus = mod-3 nonzero built in
    // batch, mod-3-zero appended, then an arbitrary tombstone slice
    val corpus = emb.where(pmod(col("vec_id"), lit(3)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("nswcomp")
      .resolve("edges").toString
    SimilarityOps.nswEdges(corpus, SimilarityOps.NswUpsertMods)
      .write.mode("overwrite").parquet(dir)
    SimilarityOps.nswAppendBatch(batch, corpus, dir)
    val dead = emb.where(pmod(col("vec_id"), lit(5)) === 2)
      .select(col("vec_id"))
    val deadSet = dead.collect().map(_.getLong(0)).toSet

    def edges(d: String) = spark.read.parquet(d)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val before = edges(dir)
    val live = emb.where(pmod(col("vec_id"), lit(5)) =!= 2)
    def probe(d: String) = SimilarityOps.annNswOverEdges(
      emb, live, spark.read.parquet(d)).collect().toSeq
    val beforeProbe = probe(dir)

    SimilarityOps.compactNswEdges(spark, dir, dead)
    // exactly the dead-touching edges are gone — nothing else moved
    assert(edges(dir) ===
      before.filter(e => !deadSet(e._1) && !deadSet(e._2)),
      "compaction must drop exactly the edges touching a tombstone")
    assert(before.exists(e => deadSet(e._1) || deadSet(e._2)),
      "fixture must exercise the removal path")
    // bounded whole files, staging dir renamed away
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))
    assert(files <= SimilarityOps.NswCompactFiles,
      s"compaction must leave at most ${SimilarityOps.NswCompactFiles} files, got $files")
    assert(!new java.io.File(dir + "_next").exists())
    // compaction is invisible to the delete probe
    assert(probe(dir) === beforeProbe,
      "the delete probe must not change across compaction")
  }

  test("NSW streamed-fold idempotence: a redelivered batch_id overwrites, never duplicates") {
    val corpus = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val batch = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val dir = java.nio.file.Files.createTempDirectory("nswidem")
      .resolve("edges").toString
    SimilarityOps.nswEdges(corpus, SimilarityOps.NswUpsertMods)
      .write.mode("overwrite").parquet(s"$dir/batch_id=-1")
    SimilarityOps.nswAppendBatch(batch, corpus, dir, batchId = Some(0L))
    def edges() = spark.read.parquet(dir)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val once = edges()
    // the at-least-once scenario: the same micro-batch delivered again
    SimilarityOps.nswAppendBatch(batch, corpus, dir, batchId = Some(0L))
    assert(edges() === once,
      "a redelivered micro-batch must land the identical on-disk edge set")
  }

  test("LSH delete: a delete over a held version slot throws before it logs a tombstone") {
    import graft.operators.IndexVersion
    val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val deletes = corpus.where(pmod(col("doc_id"), lit(7)) === 1).select("doc_id")
    val dir = java.nio.file.Files.createTempDirectory("lshdelcas").toString
    DedupOps.writeLshIndex(corpus, dir)
    def counts() = spark.read.parquet(s"$dir/band_counts")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq
    val countsBefore = counts()

    val slotA = IndexVersion.begin(dir) // a fold, mid-flight
    intercept[java.util.ConcurrentModificationException] {
      DedupOps.deleteFromLshIndex(deletes, dir)
    }
    assert(IndexVersion.tombstones(spark, dir).isEmpty,
      "the refused delete must not have logged a single tombstone")
    assert(counts() === countsBefore, "the refused delete must not merge counts")

    IndexVersion.commit(dir, slotA)
    DedupOps.deleteFromLshIndex(deletes, dir)
    assert(IndexVersion.current(dir) === 2L, "a completed delete seals its slot")
  }

  test("semantic delete: a delete over a held version slot throws before it logs a tombstone") {
    import graft.operators.IndexVersion
    val corpus = emb.where(pmod(col("vec_id"), lit(3)) =!= 0)
    val deletes = corpus.where(pmod(col("vec_id"), lit(7)) === 1)
    val dir = java.nio.file.Files.createTempDirectory("semdelcas").toString
    SimilarityOps.writeSemIndex(corpus, dir)
    def counts() = spark.read.parquet(s"$dir/cluster_counts")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val countsBefore = counts()

    val slotA = IndexVersion.begin(dir) // a fold, mid-flight
    intercept[java.util.ConcurrentModificationException] {
      SimilarityOps.semDeleteBatch(deletes, dir)
    }
    assert(IndexVersion.tombstones(spark, dir).isEmpty,
      "the refused delete must not have logged a single tombstone")
    assert(counts() === countsBefore, "the refused delete must not merge counts")

    IndexVersion.commit(dir, slotA)
    SimilarityOps.semDeleteBatch(deletes, dir)
    assert(IndexVersion.current(dir) === 2L, "a completed delete seals its slot")
  }

  test("LSH delete: tombstoned probe equals a rebuild on the live corpus, and compaction truncates the log") {
    // arbitrary take-down slice (NOT the gated query's mod-10 one):
    // corpus = mod-3 nonzero docs, deletes = the corpus's mod-7 == 1
    val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val deletes = corpus.where(pmod(col("doc_id"), lit(7)) === 1)
    val live = corpus.where(pmod(col("doc_id"), lit(7)) =!= 1)
    val batch = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val deleted = s"$tmpRoot/deleted"
    val rebuilt = s"$tmpRoot/rebuilt"
    DedupOps.writeLshIndex(corpus, deleted)
    DedupOps.deleteFromLshIndex(deletes.select("doc_id"), deleted)
    DedupOps.writeLshIndex(live, rebuilt)

    def counts(dir: String) = spark.read.parquet(s"$dir/band_counts")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq
    assert(counts(deleted) === counts(rebuilt),
      "decremented counts must equal a live-corpus recount")
    def pairs(dir: String, c: org.apache.spark.sql.DataFrame) =
      DedupOps.nearDedupProbe(batch, c, dir,
          threshold = 0.8, maxBucket = 1000, includeBatchSelfPairs = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val probed = pairs(deleted, live)
    assert(probed === pairs(rebuilt, live),
      "tombstoned probe must equal the live-corpus rebuild's probe")
    // the slice must bite: the undeleted index pairs more
    val before = pairs(s"$tmpRoot/before", { DedupOps.writeLshIndex(corpus, s"$tmpRoot/before"); corpus })
    assert(probed !== before, "take-down slice should remove some pairs")

    DedupOps.compactLshIndex(spark, deleted)
    assert(!new java.io.File(deleted, "_tombstones").exists(),
      "compaction must truncate the applied log")
    val bandRows = spark.read.parquet(s"$deleted/bands")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(identity).toSeq
    val rebuiltRows = spark.read.parquet(s"$rebuilt/bands")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(identity).toSeq
    assert(bandRows === rebuiltRows,
      "compacted bands must equal the live-corpus rebuild's bands")
    assert(pairs(deleted, live) === probed,
      "the probe must not change across compaction")
  }

  test("semantic fold-in: appended labels + merged counts equal a frozen-model rebuild") {
    // arbitrary split: corpus = mod-3 nonzero, accepted batch = mod 3;
    // a later mod-7 batch probes both indexes
    val corpus = emb.where(pmod(col("vec_id"), lit(3)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val root = java.nio.file.Files.createTempDirectory("semfold").toString
    val folded = s"$root/folded"
    val rebuilt = s"$root/rebuilt"
    SimilarityOps.writeSemIndex(corpus, folded)
    SimilarityOps.foldBatchIntoSemIndex(batch, folded)
    // rebuild: the SAME frozen centroids, assignment over the union
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(rebuilt))
    spark.read.parquet(s"$folded/centroids")
      .coalesce(1).write.parquet(s"$rebuilt/centroids")
    SimilarityOps.writeSemIndexUnder(emb, rebuilt)

    def labels(dir: String) = spark.read.parquet(s"$dir/assign")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    def counts(dir: String) = spark.read.parquet(s"$dir/cluster_counts")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(labels(folded) === labels(rebuilt), "folded labels != rebuilt labels")
    assert(counts(folded) === counts(rebuilt), "merged counts != recounted")

    val probeBatch = emb.where(pmod(col("vec_id"), lit(1000)) === 7)
    def pairs(dir: String) = SimilarityOps.semanticProbe(probeBatch, emb, dir,
        threshold = 0.2, maxCluster = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(identity).toSeq
    val p = pairs(folded)
    assert(p === pairs(rebuilt))
    assert(p.nonEmpty, "fixture must exercise the probe path")
  }

  test("IVF delete: tombstoned probe equals a from-scratch search minus the deleted set") {
    import org.apache.spark.sql.functions.broadcast
    val (centroids, _) = SimilarityOps.lloydIterate(
      emb, iterations = 1, moveEps = 0.0, centroidMod = 97, numCentroids = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfdel")
      .resolve("lists").toString
    SimilarityOps.ivfAppendBatch(emb, centroids, dir)
    // arbitrary delete slice (NOT the gated query's mod-9 one)
    val deletes = emb.where(pmod(col("vec_id"), lit(5)) === 2).select("vec_id")
    SimilarityOps.ivfDeleteBatch(deletes, dir)

    val lists = spark.read.parquet(dir)
    val tomb = spark.read.parquet(s"$dir/_tombstones")
    val probed = SimilarityOps.indexedSearch(emb, centroids,
      lists.join(broadcast(tomb), Seq("vec_id"), "left_anti"),
      nprobe = 3, nProbes = 10, k = 10).collect().toSeq
    val scratch = SimilarityOps.indexedSearch(emb, centroids,
      lists.where(pmod(col("vec_id"), lit(5)) =!= 2),
      nprobe = 3, nProbes = 10, k = 10).collect().toSeq
    assert(probed === scratch)
    // the deleted slice changed the answer (the fixture must bite)
    val undeleted = SimilarityOps.indexedSearch(emb, centroids, lists,
      nprobe = 3, nProbes = 10, k = 10).collect().toSeq
    assert(probed !== undeleted, "delete slice should perturb some top-k")
  }

  test("IVF compaction applies and truncates the tombstone log") {
    val (centroids, _) = SimilarityOps.lloydIterate(
      emb, iterations = 1, moveEps = 0.0, centroidMod = 97, numCentroids = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfdelcomp")
      .resolve("lists").toString
    SimilarityOps.ivfAppendBatch(emb, centroids, dir)
    SimilarityOps.ivfDeleteBatch(
      emb.where(pmod(col("vec_id"), lit(5)) === 2).select("vec_id"), dir)
    val deletedIds = emb.where(pmod(col("vec_id"), lit(5)) === 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val beforeLive = spark.read.parquet(dir).collect().map(_.getLong(0))
      .filterNot(deletedIds.contains).sorted.toSeq

    SimilarityOps.compactIvfLists(spark, dir)
    val after = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(after === beforeLive, "compaction must drop exactly the tombstoned rows")
    assert(!new java.io.File(dir, "_tombstones").exists(),
      "the applied tombstone log must be truncated by the publish rename")
  }

  test("coded-list (IVF-PQ) appends/delete/compaction: rows intact, log applied, one file per list") {
    val (centroids, _) = SimilarityOps.lloydIterate(
      emb, iterations = 1, moveEps = 0.0, centroidMod = 97, numCentroids = 16)
    val cb = SimilarityOps.pqCodebook(emb)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqcomp")
      .resolve("lists").toString
    // three append rounds on an arbitrary (non-parity) split
    (0 until 3).foreach { r =>
      SimilarityOps.ivfPqAppendBatch(
        emb.where(pmod(col("vec_id"), lit(3)) === r), centroids, cb, dir)
    }
    def rows(d: String) = spark.read.parquet(d)
      .select(col("vec_id"), col("centroid_id").cast("long"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList))
      .sortBy(t => (t._1, t._2)).toSeq
    def partFiles(d: String): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .filterNot(_.toString.contains("_tombstones"))
        .toSeq.groupBy(_.getParent.getFileName.toString)
        .map { case (k, v) => k -> v.size }
    }
    val before = rows(dir)
    assert(before.size === emb.count(),
      "the three appends must cover the corpus exactly once")
    assert(partFiles(dir).values.max >= 2, "appends should have split files")
    // tombstone an arbitrary slice, then compact: physical removal +
    // log truncation + one file per list, code words untouched
    val delIds = emb.where(pmod(col("vec_id"), lit(5)) === 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    SimilarityOps.ivfDeleteBatch(
      emb.where(pmod(col("vec_id"), lit(5)) === 2).select("vec_id"), dir)
    SimilarityOps.compactIvfLists(spark, dir)
    val after = rows(dir)
    assert(after === before.filterNot(t => delIds.contains(t._1)),
      "compaction must drop exactly the tombstoned rows and keep codes intact")
    assert(partFiles(dir).values.max === 1,
      s"each list must be one file after compaction: ${partFiles(dir)}")
    assert(!new java.io.File(dir, "_tombstones").exists(),
      "the applied tombstone log must be truncated by the publish rename")
  }

  test("postings fold-in: appended postings + merged lexicon/stats equal a rebuild") {
    // arbitrary NON-parity split (the registered incremental_bm25
    // query uses odd/even — a different split here proves the fold
    // is batch-agnostic, not tuned to one fixture convention)
    import graft.operators.RetrievalOps
    val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val root = java.nio.file.Files.createTempDirectory("postfold").toString
    val folded = s"$root/folded"
    val rebuilt = s"$root/rebuilt"
    RetrievalOps.writePostingsIndex(corpus, folded)
    RetrievalOps.foldBatchIntoPostings(batch, folded)
    RetrievalOps.writePostingsIndex(docs, rebuilt)

    def postings(dir: String) = spark.read.parquet(s"$dir/postings")
      .select("doc_id", "word", "tf", "dl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    def lexicon(dir: String) = spark.read.parquet(s"$dir/lexicon")
      .collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("ctf"),
        r.getAs[Long]("df"), r.getAs[Long]("word_bucket")))
      .sortBy(identity).toSeq
    def stats(dir: String) = spark.read.parquet(s"$dir/stats")
      .select("n_docs", "total_tf", "n_token_docs", "avgdl")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(postings(folded) === postings(rebuilt), "folded postings != rebuilt")
    assert(lexicon(folded) === lexicon(rebuilt), "merged lexicon != recounted")
    // exact equality including the re-derived double avgdl — the
    // long-addition stats design makes this bit-identical
    assert(stats(folded) === stats(rebuilt), "advanced stats != recomputed")

    // and the probe can't tell the difference
    def top(dir: String) = RetrievalOps.probePostings(spark, dir, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = top(folded)
    assert(a === top(rebuilt))
    assert(a.nonEmpty, "fixture must exercise the probe path")
  }

  test("semantic delete: eager count advance, live probe, compaction recount agrees") {
    import graft.operators.SimilarityOps
    val corpus = emb.where(pmod(col("vec_id"), lit(3)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val root = java.nio.file.Files.createTempDirectory("semdel").toString
    val dir = s"$root/idx"
    SimilarityOps.writeSemIndex(corpus, dir)
    val deleted = corpus.where(pmod(col("vec_id"), lit(7)) === 1)
    SimilarityOps.semDeleteBatch(deleted, dir)
    val deadIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deadIds.nonEmpty, "fixture must delete something")

    // eager advance: stored counts == a recount of the live labels
    def counts(d: String) = spark.read.parquet(s"$d/cluster_counts")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._2 > 0).sortBy(_._1).toSeq
    val liveRecount = spark.read.parquet(s"$dir/assign")
      .where(!col("vec_id").isin(deadIds.toSeq: _*))
      .groupBy("centroid_id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(counts(dir) === liveRecount,
      "delete must advance cluster counts to the live population")

    // the tombstoned probe never returns a deleted endpoint
    val pairs = SimilarityOps.semanticProbe(batch, emb, dir,
      SimilarityOps.SemThreshold, SimilarityOps.SemMaxCluster).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!pairs.exists(p => deadIds(p._1) || deadIds(p._2)),
      "a deleted vector appeared as a pair endpoint")

    // compaction: labels shrink, counts unchanged (already live),
    // log truncated, probe identical
    SimilarityOps.compactSemIndex(spark, dir)
    assert(!new java.io.File(dir, "_tombstones").exists(),
      "the applied tombstone log must be truncated")
    val labelIds = spark.read.parquet(s"$dir/assign")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(labelIds.intersect(deadIds).isEmpty,
      "compaction must remove the deleted labels")
    assert(counts(dir) === liveRecount,
      "compaction recount must equal the eagerly-advanced counts")
    val pairsAfter = SimilarityOps.semanticProbe(batch, emb, dir,
      SimilarityOps.SemThreshold, SimilarityOps.SemMaxCluster).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairsAfter === pairs, "probe must not change across compaction")
  }

  test("postings compaction over a stale postings_old leaves one live postings table") {
    import graft.operators.RetrievalOps
    val dir = java.nio.file.Files.createTempDirectory("postold").toString
    RetrievalOps.writePostingsIndex(docs, dir)
    // a crashed earlier publish left its renamed-aside copy behind
    val stale = java.nio.file.Paths.get(dir, "postings_old")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.writeString(stale.resolve("part-0"), "stale")
    def postings() = spark.read.parquet(s"$dir/postings")
      .select("doc_id", "word", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(identity).toSeq
    val before = postings()

    RetrievalOps.compactPostings(spark, dir)
    assert(new java.io.File(dir).list().filter(_.startsWith("postings")).toSet ===
      Set("postings"), "no staging or _old directory may be left")
    assert(postings() === before, "compaction without deletes changed the postings")
  }

  test("lshdelidx: a rebuild over a partial build completes and logs each id once") {
    val dir = DedupOps.lshDeleteIndexDir(docs, TestSpark.Sf0001)
    // a build that stopped before its last marker is rebuilt
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_SUCCESS"))
    assert(DedupOps.lshDeleteIndexDir(docs, TestSpark.Sf0001) === dir)
    assert(new java.io.File(dir, "_SUCCESS").exists())
    assert(new java.io.File(dir, "_DELETED").exists())
    val logged = spark.read.parquet(s"$dir/_tombstones")
      .collect().map(_.getLong(0)).sorted.toSeq
    val slice = docs.where(
        pmod(col("doc_id"), lit(DedupOps.LshDeleteMod)) === DedupOps.LshDeleteRes)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(slice.nonEmpty, "fixture must delete something")
    assert(logged === slice, "the delete log must hold each take-down id exactly once")
  }

  test("postings delete + compaction: tombstoned probe goes stale-stats, compaction goes fresh") {
    import graft.operators.RetrievalOps
    val root = java.nio.file.Files.createTempDirectory("postdel").toString
    val dir = s"$root/idx"
    RetrievalOps.writePostingsIndex(docs, dir)
    val deleted = docs.where(pmod(col("doc_id"), lit(5)) === 4)
    RetrievalOps.deleteDocsFromPostings(deleted, dir)
    val deadIds = deleted.select("doc_id").collect().map(_.getLong(0)).toSet

    // pre-compaction: no deleted doc can be returned, and the stats
    // tables on disk are untouched (stale by design)
    val probed = RetrievalOps.probePostings(spark, dir, 50)
      .collect().map(_.getLong(0)).toSeq
    assert(probed.nonEmpty && !probed.exists(deadIds), "a tombstoned doc was returned")
    val staleStats = spark.read.parquet(s"$dir/stats")
      .select("n_docs", "total_tf").head
    val fullStats = {
      val d2 = s"$root/full"
      RetrievalOps.writePostingsIndex(docs, d2)
      spark.read.parquet(s"$d2/stats").select("n_docs", "total_tf").head
    }
    assert(staleStats === fullStats, "delete must not touch the stats tables")

    // compaction applies the log, truncates it, and the result is
    // indistinguishable from a fresh build on the live corpus
    RetrievalOps.compactPostings(spark, dir)
    assert(!new java.io.File(dir, "_tombstones").exists(),
      "the applied tombstone log must be truncated")
    val rebuilt = s"$root/live"
    RetrievalOps.writePostingsIndex(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 4), rebuilt)
    def postings(d: String) = spark.read.parquet(s"$d/postings")
      .select("doc_id", "word", "tf", "dl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    def lexicon(d: String) = spark.read.parquet(s"$d/lexicon")
      .collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("ctf"),
        r.getAs[Long]("df"), r.getAs[Long]("word_bucket")))
      .sortBy(identity).toSeq
    def stats(d: String) = spark.read.parquet(s"$d/stats")
      .select("n_docs", "total_tf", "n_token_docs", "avgdl")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(postings(dir) === postings(rebuilt), "compacted postings != live rebuild")
    assert(lexicon(dir) === lexicon(rebuilt), "compacted lexicon != live rebuild")
    assert(stats(dir) === stats(rebuilt), "compacted stats != live rebuild")
    def top(d: String) = RetrievalOps.probePostings(spark, d, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top(dir) === top(rebuilt))
  }
}
