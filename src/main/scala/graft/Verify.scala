package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing query names restrict the run (fast iteration /
    // targeted re-checks at big SFs); no names = the full registry
    val (sfDir, outDir, only) = args.toList match {
      case sf :: out :: rest => (sf, out, rest.toSet)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [query ...]")
    }
    def selected(name: String): Boolean = only.isEmpty || only(name)
    // fail fast on unknown names (the Bench discipline): a typo'd
    // subset would otherwise dump nothing and look like a clean run
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    // Serialize with every other heavy job (VERDICT r19 ask #2): a
    // direct `java graft.Verify` — the driver's path — used to bypass
    // the wrappers' flock and could co-run with a gate chain. No
    // loadavg wait here: correctness output is contention-immune,
    // only mutual exclusion matters.
    HeavyLock.acquire()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Staleness guard (round-10): a query output surviving from an older
    // run must never be compared as if it were this run's answer. Each
    // run gets a unique stamp; every query dir is wiped before compute
    // (a throw before write leaves "missing" — a loud gate failure, not
    // a stale pass) and stamped after a successful write. tools/check.py
    // cross-checks the per-query stamp against run_stamp.txt.
    val runStamp = java.util.UUID.randomUUID().toString
    var failed = List.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        val dest = Paths.get(outDir, name)
        graft.sources.Fixtures.deleteTree(dest)
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(dest.toString)
          // underscore prefix → invisible to Spark/DuckDB parquet globs
          Files.writeString(dest.resolve("_GRAFT_STAMP"), runStamp)
        } catch { case e: Throwable =>
          graft.sources.Fixtures.deleteTree(dest)
          failed ::= name
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Files.writeString(Paths.get(outDir, "run_stamp.txt"), runStamp)
    writeOracleJson(outDir, selected)
    spark.stop()
    // Refuse to exit 0 on an incomplete dump (VERDICT r17 ask #8):
    // round 17's driver artifact was a silent `{}` because a partial
    // run still looked like success. Everything above still runs —
    // the partial outputs and oracle json stay on disk for diagnosis
    // — but the exit code now says the truth.
    val expected =
      SparkEntry.queries.count { case (n, _) => selected(n) }
    val code = exitCode(expected, failed)
    if (code != 0) {
      System.err.println(s"[verify] INCOMPLETE: dumped " +
        s"${expected - failed.size}/$expected; failed: " +
        failed.sorted.mkString(", "))
      sys.exit(code)
    }
  }

  /** 0 only when every selected query dumped; unit-tested so the
    * guard can't rot (testing `main` would kill the JVM). */
  private[graft] def exitCode(expected: Int, failed: Seq[String]): Int =
    if (failed.nonEmpty || expected <= 0) 1 else 0

  /** Dump the selected oracle SQL as `outDir/oracle_sql.json`.
    * JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  private[graft] def writeOracleJson(outDir: String,
                                     selected: String => Boolean): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    ()
  }
}

/** Regenerate ONLY `oracle_sql.json` for an existing Verify dump —
  * the oracle-iteration fast path: query outputs are a pure function
  * of the ENGINE, so after editing oracle SQL the standing dump (and
  * its per-query stamps) stays valid and only the comparison text
  * needs refreshing. No Spark session; prints nothing but the path.
  *
  * Subset semantics (ADVICE r18): with query names given, the dump's
  * existing oracle_sql.json keys are PRESERVED — the named queries'
  * SQL plus every key already in the file are rewritten from HEAD, so
  * a targeted oracle refresh never shrinks a standing dump's checked
  * coverage. A key in the old file that no longer exists at HEAD is
  * dropped with a stderr warning (rename/retirement, not silence).
  * Usage: OracleDump <outDir> [query ...]
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val (outDir, only) = args.toList match {
      case out :: rest => (out, rest.toSet)
      case _ => sys.error("usage: OracleDump <outDir> [query ...]")
    }
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val existingFile = Paths.get(outDir, "oracle_sql.json")
    val existing: Set[String] =
      if (only.nonEmpty && Files.exists(existingFile)) {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readString(existingFile))
        import scala.jdk.CollectionConverters._
        node.fieldNames().asScala.toSet
      } else Set.empty
    val gone = existing.diff(SparkEntry.oracleSql.keySet)
    if (gone.nonEmpty)
      System.err.println("[oracledump] dropping keys absent at HEAD: " +
        gone.toSeq.sorted.mkString(", "))
    Verify.writeOracleJson(outDir,
      name => only.isEmpty || only(name) || existing(name))
    println(s"$outDir/oracle_sql.json")
  }
}
