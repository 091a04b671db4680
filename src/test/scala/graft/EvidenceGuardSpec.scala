package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Negative tests for the round-18 evidence guards (VERDICT r17 ask
  * #8): a partial Verify dump and an empty oracle compare must FAIL
  * LOUDLY instead of producing the silent `{}` artifact that zeroed
  * round 17's correctness record.
  */
class EvidenceGuardSpec extends AnyFunSuite {

  test("Verify exit code is nonzero when any selected query failed") {
    assert(Verify.exitCode(272, Nil) === 0)
    assert(Verify.exitCode(272, Seq("ann_nsw")) !== 0)
    assert(Verify.exitCode(272, Seq("a", "b", "c")) !== 0)
    // a run that selected nothing dumped nothing — never a clean exit
    assert(Verify.exitCode(0, Nil) !== 0)
  }

  test("publishDir survives a leftover _old dir and null listFiles") {
    val base = Files.createTempDirectory("graft-publish").toFile
    val live = new File(base, "live")
    val staging = new File(base, "live_next")
    val old = new File(base, "live_old")
    // simulate: previous publish crashed after rename-aside (live
    // absent, _old populated); the new staging is written complete
    old.mkdirs()
    Files.writeString(new File(old, "part-0").toPath, "stale")
    graft.operators.IndexVersion.publishDir(live.getPath) { path =>
      assert(path === staging.getPath)
      staging.mkdirs()
      Files.writeString(new File(staging, "part-0").toPath, "fresh")
    }
    assert(live.isDirectory)
    assert(Files.readString(new File(live, "part-0").toPath) === "fresh")
    assert(!old.exists(), "_old must be reclaimed after publish")
    assert(!staging.exists())
  }

  /** Reproduce the r18 12:09 failure mode (VERDICT r18 ask #2): a
    * DuckDB fatal — temp-directory exhaustion under a deliberately
    * tiny cap — mid-gate must record an `err` on that row, reopen the
    * connection, CONTINUE to the remaining queries, and still write a
    * complete report. The r18 run died after two such reds with no
    * report at all (the next iteration's bare con.close() re-raised
    * outside any try).
    */
  test("check.py survives a disk-busting oracle: err row + complete report") {
    val out = Files.createTempDirectory("graft-checkbust").toFile
    val spill = Files.createTempDirectory("graft-checkbust-spill").toFile
    val report = new File(out, "report.json")
    val spark = TestSpark.spark
    // spark-side outputs for the two healthy queries (sorted order puts
    // the busting query FIRST, so survival implies the later rows ran)
    for (q <- Seq("b_ok", "c_ok"))
      spark.sql("SELECT CAST(1 AS INT) AS x").coalesce(1)
        .write.mode("overwrite").parquet(new File(out, q).getPath)
    // a_bust's spark side exists too — the fatal must come from the
    // ORACLE, not from a missing dump
    spark.sql("SELECT CAST(1 AS INT) AS x").coalesce(1)
      .write.mode("overwrite").parquet(new File(out, "a_bust").getPath)
    // ~190 MB of md5 strings through a distinct aggregate with a
    // 64 MiB memory limit and a 1 MiB temp cap: guaranteed spill,
    // guaranteed cap hit
    val bust = "SELECT count(DISTINCT h) AS x FROM (SELECT md5(range::VARCHAR) h " +
      "FROM range(5000000)) t"
    val oracle =
      s"""{"a_bust": "$bust",
         | "b_ok": "SELECT CAST(1 AS INT) AS x",
         | "c_ok": "SELECT CAST(1 AS INT) AS x"}""".stripMargin
    Files.writeString(new File(out, "oracle_sql.json").toPath, oracle)
    val pb = new ProcessBuilder("python3", "tools/check.py",
      "/root/testdata/sf0.001", out.getPath, report.getPath)
    pb.directory(new File("/root/repo"))
    val env = pb.environment()
    env.put("GRAFT_LOCK_HELD", "1")
    env.put("GRAFT_DUCKDB_SPILL", spill.getPath)
    env.put("GRAFT_DUCKDB_TEMP_CAP", "1MiB")
    env.put("GRAFT_DUCKDB_MEM", "64MiB")
    env.put("GRAFT_DUCKDB_THREADS", "2")
    env.put("GRAFT_MIN_HEADROOM_GB", "1")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val outTxt = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    assert(code !== 0, s"a red row must exit nonzero: $outTxt")
    assert(report.isFile, s"report must be written even after a fatal: $outTxt")
    val json = Files.readString(report.toPath)
    assert(json.contains("\"a_bust\""), json)
    assert(json.contains("oracle error"), s"a_bust must carry err: $json")
    // the rows AFTER the fatal must have been checked and be green
    for (q <- Seq("b_ok", "c_ok")) {
      val idx = json.indexOf("\"" + q + "\"")
      assert(idx >= 0, s"$q missing from report: $json")
      val row = json.substring(idx, math.min(json.length, idx + 300))
      assert(row.contains("\"hash_match\": true"),
        s"$q must be green after the fatal: $row")
    }
    assert(outTxt.contains("ok   b_ok"), outTxt)
  }

  test("check.py refuses an empty oracle dump (exit nonzero)") {
    val out = Files.createTempDirectory("graft-checkguard").toFile
    Files.writeString(new File(out, "oracle_sql.json").toPath, "{}")
    // GRAFT_LOCK_HELD skips the heavy-job lock: this guard test must
    // not queue behind a real gate chain (and must not hold the lock)
    val pb = new ProcessBuilder("python3", "tools/check.py",
      "/root/testdata/sf0.001", out.getPath)
    pb.directory(new File("/root/repo"))
    pb.environment().put("GRAFT_LOCK_HELD", "1")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val outTxt = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    assert(code !== 0, s"check.py exited 0 on an empty oracle: $outTxt")
    assert(outTxt.contains("refusing"), outTxt)
  }
}
