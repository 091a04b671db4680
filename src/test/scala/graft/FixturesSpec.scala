package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Fixtures

/** Staleness audit for the write-once fixture layer: the directory
  * name's metadata fingerprint must change — forcing a fresh write —
  * whenever a source file is rewritten in place, including the
  * same-byte-count rewrite that a size-only fingerprint would miss
  * (mtime is part of the signature exactly for that case).
  */
class FixturesSpec extends AnyFunSuite {

  private def tempSource(content: String): File = {
    val f = Files.createTempFile("graft-fixture-src", ".txt").toFile
    Files.write(f.toPath, content.getBytes("UTF-8"))
    f
  }

  test("unchanged source reuses the written fixture") {
    val src = tempSource("alpha")
    var writes = 0
    def run() = Fixtures.ensure("spec_reuse", "/tmp/sfX", Seq(src.getPath)) {
      dir => writes += 1
        new File(dir).mkdirs()
        Files.write(new File(dir, "_SUCCESS").toPath, Array.empty[Byte])
    }
    val d1 = run()
    val d2 = run()
    assert(d1 === d2)
    assert(writes === 1, s"unchanged source rewrote the fixture $writes times")
  }

  test("in-place same-size rewrite regenerates the fixture") {
    val src = tempSource("bravo")
    def fpr() = Fixtures.fingerprint(Seq(src.getPath))
    var writes = 0
    def run() = Fixtures.ensure("spec_stale", "/tmp/sfX", Seq(src.getPath)) {
      dir => writes += 1
        new File(dir).mkdirs()
        Files.write(new File(dir, "_SUCCESS").toPath, Array.empty[Byte])
    }
    val before = fpr()
    val d1 = run()
    // same byte count, different content; force the mtime forward in
    // case the rewrite lands inside the filesystem timestamp grain
    Files.write(src.toPath, "BRAVO".getBytes("UTF-8"))
    src.setLastModified(src.lastModified() + 2000)
    assert(fpr() !== before, "fingerprint blind to an in-place rewrite")
    val d2 = run()
    assert(d1 !== d2, "stale fixture directory reused after source rewrite")
    assert(writes === 2)
  }

  test("cleanBuild wipes a partial layout, builds once and marks it complete") {
    val src = tempSource("charlie")
    // a partial earlier attempt: stale checkpoint, a stray part file,
    // and no _SUCCESS
    val dir = new File(Fixtures.ensure("spec_clean", "/tmp/sfX", Seq(src.getPath)) { _ => () })
    Fixtures.deleteTree(dir.toPath)
    new File(dir, "_checkpoint/offsets").mkdirs()
    Files.write(new File(dir, "_checkpoint/offsets/0").toPath, "v1".getBytes("UTF-8"))
    Files.write(new File(dir, "part-00000.parquet").toPath, "stale".getBytes("UTF-8"))
    var builds = 0
    var seen = Seq.empty[String]
    def run() = Fixtures.ensure("spec_clean", "/tmp/sfX", Seq(src.getPath)) { path =>
      Fixtures.cleanBuild(path, Seq("_SUCCESS")) {
        builds += 1
        seen = new File(path).list().toSeq
        Files.write(new File(path, "part-00001.parquet").toPath, "fresh".getBytes("UTF-8"))
      }
    }
    assert(run() === dir.getPath)
    assert(builds === 1)
    assert(seen.isEmpty, s"build started over leftovers: $seen")
    assert(new File(dir, "_SUCCESS").exists())
    assert(dir.list().toSet === Set("_SUCCESS", "part-00001.parquet"))
    run()
    assert(builds === 1, "a completed layout was rebuilt")
    Fixtures.deleteTree(dir.toPath)
  }

  test("missing source still fingerprints stably") {
    val ghost = "/tmp/graft-no-such-file-xyz"
    assert(Fixtures.fingerprint(Seq(ghost)) === Fixtures.fingerprint(Seq(ghost)))
  }
}
