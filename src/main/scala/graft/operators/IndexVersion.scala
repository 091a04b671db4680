package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.sources.Fixtures

/** THE LIFECYCLE CONTRACT for persisted mutable indexes: how a table
  * is replaced ([[publishDir]]), how deletes are logged and subtracted
  * ([[appendTombstones]], [[withoutTombstones]], [[dropTombstones]]),
  * and how concurrent folds are kept from losing an update
  * ([[begin]]/[[commit]]). Every index family (LSH bands, BM25
  * postings, IVF and IVF-PQ lists, the semantic index, NSW adjacency)
  * goes through these functions and through no copy of them.
  *
  * == Publish ==
  *
  * A table is replaced by rename-aside: the new copy is written in
  * full to `<live>_next`, then live → `<live>_old`, staging → live,
  * and `_old` is dropped. A crash while writing leaves the live table
  * untouched; a crash between the two renames leaves the complete old
  * table at `<live>_old` (rename it back to recover) with `live`
  * absent. So a SINGLE writer never tears a table, but a reader racing
  * the swap can find `live` missing for an instant: this is crash
  * safety for one process, not a concurrent-reader protocol. A fold
  * that publishes two tables (postings: lexicon, then stats) can stop
  * between them; its unsealed version slot (below) then blocks the
  * next fold until the index is rebuilt.
  *
  * == Version slot: which folds take it ==
  *
  * Rename alone does NOT give multi-writer safety: two folds that both
  * read state S, compute S+a and S+b, and publish in turn silently
  * lose one batch's counts (the classic lost update). The single-host
  * `flock` of tools/run.sh serializes the jobs it launches; a real
  * cluster has no such lock, so the invariant lives in the index
  * layout itself. The read-modify-write folds and deletes take the
  * slot: [[DedupOps.foldBatchIntoLshIndex]] and
  * [[DedupOps.deleteFromLshIndex]] (band counts),
  * [[RetrievalOps.foldBatchIntoPostings]] (lexicon and stats), and
  * [[SimilarityOps.foldBatchIntoSemIndex]] and
  * [[SimilarityOps.semDeleteBatch]] (cluster counts). The
  * append-only folds ([[SimilarityOps.ivfAppendBatch]],
  * [[SimilarityOps.ivfPqAppendBatch]], [[SimilarityOps.nswAppendBatch]])
  * read no merged state and do not take it.
  *
  * An index directory carries a monotonically increasing version,
  * represented as `_COMMIT_v<n>` marker files (underscore-prefixed:
  * every parquet scan of the subdirectories ignores them; max n = the
  * current version, no markers = v0, the freshly-built state). A fold
  * is a compare-and-swap transaction on that version:
  *
  *   1. `begin(dir)` reads the current version v and atomically
  *      creates the intent marker `_FOLD_v(v+1)` — an exclusive
  *      create, the CAS. If the marker already exists, ANOTHER writer
  *      holds (or crashed holding) the v→v+1 slot: begin throws
  *      BEFORE the fold has mutated anything, so a lost update is
  *      impossible and the loser retries from the re-read live state.
  *   2. the fold appends its rows and publishes its merged tables;
  *   3. `commit(dir, v+1)` creates `_COMMIT_v(v+1)` — the version
  *      advances and the slot is sealed.
  *
  * A crash between 1 and 3 leaves `_FOLD_v(v+1)` without its commit:
  * the next `begin` throws loudly and the operator must reconcile
  * (re-run [[DedupOps.writeLshIndex]]-style full rebuild, or verify
  * the partial append and hand-seal). That is deliberate — a torn
  * fold's appends are not self-describing, so silent auto-repair
  * would be a guess.
  *
  * On a DFS whose `createNewFile` is atomic-exclusive (HDFS, local
  * POSIX) this is a true CAS. On an object store without atomic
  * create-if-absent, substitute the store's conditional put for step
  * 1; the protocol is unchanged.
  *
  * == Tombstone log ==
  *
  * A delete appends ids to `<dir>/_tombstones` (underscore-prefixed,
  * so every scan of the index's own tables skips it), every probe
  * subtracts the log when one exists, and a compaction applies it to
  * its rewrite and then drops it.
  */
object IndexVersion {
  private val Commit = "_COMMIT_v"
  private val Intent = "_FOLD_v"
  private val Tombstones = "_tombstones"

  /** Current committed version of the index at `dir` (0 if none). */
  def current(dir: String): Long = {
    val fs = new java.io.File(dir).listFiles()
    if (fs == null) 0L
    else fs.iterator.map(_.getName)
      .filter(_.startsWith(Commit))
      .map(_.stripPrefix(Commit).toLong)
      .foldLeft(0L)(math.max)
  }

  /** CAS-acquire the next version slot; returns the version this
    * fold will commit. Throws [[java.util.ConcurrentModificationException]]
    * — before anything is mutated — if another writer holds it.
    */
  def begin(dir: String): Long = {
    val next = current(dir) + 1
    try {
      Files.createFile(Paths.get(dir, s"$Intent$next"))
      next
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"index $dir: fold slot v$next is already claimed — a " +
            "concurrent writer is folding (or crashed mid-fold; " +
            "reconcile by rebuild before retrying). Refusing to " +
            "start a fold that would lose its update.")
    }
  }

  /** Seal the slot acquired by [[begin]] — the version advances. */
  def commit(dir: String, version: Long): Unit = {
    Files.createFile(Paths.get(dir, s"$Commit$version"))
    ()
  }

  /** Replace the directory `live` with the one `write` produces at the
    * staging path it is given (`<live>_next`), by rename-aside: live →
    * `<live>_old`, staging → live, drop `_old`. Leftover staging and
    * `_old` directories of a crashed earlier publish are reclaimed.
    */
  def publishDir(live: String)(write: String => Unit): Unit = {
    val target = Paths.get(live)
    val staging = Paths.get(s"${live}_next")
    val old = Paths.get(s"${live}_old")
    Fixtures.deleteTree(staging)
    write(staging.toString)
    Fixtures.deleteTree(old)
    if (Files.exists(target)) Files.move(target, old)
    Files.move(staging, target)
    Fixtures.deleteTree(old)
  }

  /** Log the `key` ids of `deletes` as deleted from the index at `dir`
    * (an append, never a rewrite).
    */
  def appendTombstones(deletes: DataFrame, dir: String, key: String): Unit =
    deletes.select(key).write.mode("append").parquet(s"$dir/$Tombstones")

  /** The delete log at `dir`, if a delete landed since the last
    * compaction.
    */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val log = Paths.get(dir, Tombstones)
    if (Files.exists(log)) Some(spark.read.parquet(log.toString)) else None
  }

  /** `rows` minus the ids in the delete log at `dir`: a broadcast anti
    * join on `key` (the log is delete-sized, not corpus-sized), or
    * `rows` itself when there is no log.
    */
  def withoutTombstones(rows: DataFrame, dir: String, key: String): DataFrame =
    tombstones(rows.sparkSession, dir).fold(rows)(log =>
      rows.join(broadcast(log), Seq(key), "left_anti"))

  /** Drop the delete log at `dir` — the last step of a compaction,
    * after its rewrite has applied the log.
    */
  def dropTombstones(dir: String): Unit =
    Fixtures.deleteTree(Paths.get(dir, Tombstones))
}
