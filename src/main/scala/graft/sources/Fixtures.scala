package graft.sources

import java.io.File

/** Write-once derived layouts under the system temp dir (text/CSV/JSONL
  * fixtures, bucketed tables).
  *
  * The directory name encodes everything the derived files depend on —
  * a tag, the dataset directory's basename, and a metadata fingerprint
  * of the source files (names, sizes, mtimes; no data pass) — so a
  * regenerated dataset, a different dataset with the same basename
  * hash, or changed layout parameters can never be mistaken for an
  * existing fixture: any change lands in a different directory and
  * triggers a fresh write. `_SUCCESS` (written by Spark's output
  * committer) marks a completed write; a per-directory JVM lock keeps
  * concurrent queries of one session from racing the same write.
  *
  * This is also what keeps fixture cost out of benchmark numbers: only
  * the first query invocation against a given dataset pays the write.
  *
  * The flip side: the key covers the tag, the dataset, `params` and the
  * source fingerprint, never the code that builds the layout. Layouts
  * live under `java.io.tmpdir` and outlive the JVM, so a changed builder
  * is not run by the tests or by `graft.Verify` while a completed
  * directory for its key exists. Delete a layout's directories to
  * rebuild it, e.g. `rm -rf /tmp/graft_<tag>_*` for the default tmpdir
  * (`/tmp/graft_*` for all of them).
  */
object Fixtures {

  /** Metadata fingerprint (12 hex chars) of the file tree(s) under
    * `paths`: file names, sizes and mtimes, hashed. Missing paths
    * contribute their name only, so the fingerprint is still stable.
    */
  def fingerprint(paths: Seq[String]): String = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName).toSeq.flatMap(walk)
      else if (f.exists()) Seq(s"${f.getName}:${f.length}:${f.lastModified}")
      else Seq(f.getName)
    val sig = paths.flatMap(p => walk(new File(p))).mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
  }

  /** Delete `path` and everything under it, children first; a
    * missing path is a no-op.
    */
  def deleteTree(path: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(path)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(path)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Clean-slate rebuild for fixture layouts that write into
    * SUBdirectories (so Spark's own `_SUCCESS` never lands at the
    * fixture root): wipe any partial state, run `build`, then write
    * the top-level markers. Multi-step builds whose later steps
    * APPEND (fold-ins, tombstone logs) need this — a rebuild on top
    * of a partial previous attempt would double-apply the appends.
    */
  def cleanBuild(dir: String, markers: Seq[String])(build: => Unit): Unit = {
    val root = java.nio.file.Paths.get(dir)
    deleteTree(root)
    java.nio.file.Files.createDirectories(root)
    build
    markers.foreach(m =>
      java.nio.file.Files.createFile(root.resolve(m)))
  }

  /** Path for (`tag`, dataset, `params`, source files); `write` runs at
    * most once per distinct content — later calls (including from a
    * fresh session, via the on-disk `_SUCCESS` marker) reuse the files.
    * `validate` can reject existing files (e.g. bucket-count mismatch)
    * and force a rewrite.
    */
  def ensure(tag: String, sfDir: String, sources: Seq[String],
             params: String = "",
             validate: File => Boolean = _ => true)
            (write: String => Unit): String = {
    val suffix = if (params.isEmpty) "" else s"_$params"
    val name = s"graft_${tag}_${new File(sfDir).getName}$suffix" +
      s"_${fingerprint(sources)}"
    val dir = new File(sys.props("java.io.tmpdir"), name)
    val lock = locks.computeIfAbsent(dir.getPath, _ => new Object)
    lock.synchronized {
      if (!new File(dir, "_SUCCESS").exists() || !validate(dir))
        write(dir.getPath)
    }
    dir.getPath
  }
}
