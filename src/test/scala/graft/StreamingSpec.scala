package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventsOps
import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The file stream source wants a directory; stage the single-file
    * fixture into one.
    */
  lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming wordcount equals the batch wordcount") {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf0001}/documents.parquet"),
      dir.resolve("documents.parquet"))
    val stream = EventStreams.readDocumentsStream(spark, dir.toString)
    val q = EventStreams.streamingWordCount(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("swc_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("swc_stream")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.operators.WordCountOps
      .wordCount(Tables.documents(spark, TestSpark.Sf0001))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("streaming wordcount refuses a checkpoint written by the explode-and-count plan") {
    import org.apache.spark.sql.functions._
    // the plan streamingWordCount ran before it moved onto the counting
    // kernel: one row per token, state value `count BIGINT NOT NULL`
    def explodePlan(docs: org.apache.spark.sql.DataFrame) = docs
      .select(explode(graft.functions.NativeText.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val dir = java.nio.file.Files.createTempDirectory("graft-wc-restart")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-wc-restart-ckpt").toString
    val fixture = java.nio.file.Paths.get(s"${TestSpark.Sf0001}/documents.parquet")
    def runOnCheckpoint(counts: org.apache.spark.sql.DataFrame): Unit = EventStreams.drain(
      counts.writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt))
    java.nio.file.Files.copy(fixture, dir.resolve("a.parquet"))
    runOnCheckpoint(explodePlan(EventStreams.readDocumentsStream(spark, dir.toString)))
    // new input, so the restart plans a stateful batch over the old state
    java.nio.file.Files.copy(fixture, dir.resolve("b.parquet"))
    val e = intercept[Exception](runOnCheckpoint(
      EventStreams.streamingWordCount(EventStreams.readDocumentsStream(spark, dir.toString))))
    val conditions = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collect { case t: org.apache.spark.SparkThrowable => t.getCondition }.toSeq
    assert(conditions.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
      s"expected the state schema check to refuse the old checkpoint: $e")
    graft.sources.Fixtures.deleteTree(dir)
    graft.sources.Fixtures.deleteTree(java.nio.file.Paths.get(ckpt))
  }

  test("streaming ingest dedup equals the batch incremental dedup's keep set") {
    import org.apache.spark.sql.functions._
    // replay the documents fixture as the arriving stream; the even
    // doc_ids play the already-ingested corpus (incrementalDedup's
    // parity split), so the stream must emit exactly one doc per
    // digest the corpus has NOT seen
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf0001}/documents.parquet"),
      dir.resolve("documents.parquet"))
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val corpus = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val arriving = EventStreams.readDocumentsStream(spark, dir.toString)
      .where(pmod(col("doc_id"), lit(2)) === 1)
    val ingest = EventStreams.ingestDedupStream(arriving, corpus)
    val q = ingest.stream
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_dedup")
      .start()
    try { q.processAllAvailable() } finally { q.stop(); ingest.close() }
    val streamedFps = spark.table("ingest_dedup")
      .collect().map(_.getString(1)).toSet
    // batch truth: digests of odd docs that no even doc carries
    val batchFps = graft.operators.DedupOps
      .incrementalDedup(docs)
      .collect().map(_.getString(2)).toSet
    assert(streamedFps === batchFps)
    // exactly one emission per new digest (the dropDuplicates state)
    assert(spark.table("ingest_dedup").count() === streamedFps.size)
  }

  test("streaming near-dedup ingest equals the batch incremental near-dedup") {
    import org.apache.spark.sql.functions._
    // replay the odd-id docs as the arriving stream (one parquet file
    // -> one micro-batch, so within-batch self pairs line up with the
    // batch operator's batch-batch class exactly)
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf0001}/documents.parquet"),
      dir.resolve("documents.parquet"))
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val arriving = EventStreams.readDocumentsStream(spark, dir.toString)
      .where(pmod(col("doc_id"), lit(2)) === 1)
    val out = java.nio.file.Files.createTempDirectory("graft-neardup-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-neardup-ckpt").toString
    val q = EventStreams.ingestNearDedupStream(arriving, docs,
      TestSpark.Sf0001, out, ckpt).start()
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val streamed = spark.read.parquet(out)
      .select("a_id", "b_id", "jac").collect().map(key).toSet
    val batch = graft.operators.DedupOps
      .incrementalNearDedup(docs, TestSpark.Sf0001)
      .collect().map(key).toSet
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("idempotent foreachBatch sink: restart re-emits nothing, replay overwrites") {
    val out = java.nio.file.Files.createTempDirectory("graft-idem-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idem-ckpt").toString
    val total = Tables.events(spark, TestSpark.Sf0001).count()
    def run(): Unit = {
      val q = EventStreams.writeEventsIdempotent(
        EventStreams.readEventsStream(spark, eventsDir), out, ckpt).start()
      // stop() alone can leave the query briefly registered against the
      // checkpoint; a same-checkpoint restart then trips the
      // concurrent-use guard — await full termination before returning
      try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    }
    run()
    val once = spark.read.parquet(out).count()
    assert(once === total, s"first run must land all $total events, saw $once")
    // restart from the SAME checkpoint: the source offsets are
    // committed, so no batch re-fires and counts are unchanged
    run()
    assert(spark.read.parquet(out).count() === total,
      "checkpointed restart must not duplicate any batch")
    // REAL crash-replay: delete the latest commits/<id> marker while
    // keeping its offsets/<id>, then restart from the checkpoint.
    // Spark sees the offset written but uncommitted and re-fires that
    // exact batch THROUGH the foreachBatch closure with the same
    // batch id — the actual replay path the exactly-once claim rests
    // on, not a hand-simulated directory copy.
    import scala.jdk.CollectionConverters._
    val commitsDir = java.nio.file.Paths.get(ckpt, "commits")
    val latest = java.nio.file.Files.list(commitsDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    java.nio.file.Files.delete(commitsDir.resolve(latest.toString))
    // the local FS keeps a checksum sidecar; leaving it stale makes the
    // re-write of commits/<latest> fail as a concurrent-use error
    java.nio.file.Files.deleteIfExists(commitsDir.resolve(s".$latest.crc"))
    run()
    assert(spark.read.parquet(out).count() === total,
      "a replayed batch must overwrite its own directory, not append")
  }

  test("event stream starts on an EMPTY directory and picks up late-arriving files") {
    // the schema probe has nothing to read in an empty source dir; the
    // stream must fall back to the nanos-long contract schema instead
    // of dying with 'unable to infer schema' (ADVICE round 10), then
    // process files that arrive after start
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-stream")
    val stream = EventStreams.readEventsStream(spark, dir.toString)
    assert(stream.schema.fieldNames.toSeq ===
      EventStreams.eventsContractSchema.fieldNames.toSeq)
    assert(stream.schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("empty_start_stream")
      .start()
    try {
      q.processAllAvailable() // zero batches: must not throw
      assert(spark.table("empty_start_stream").count() === 0)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
        dir.resolve("events.parquet"))
      q.processAllAvailable()
      assert(spark.table("empty_start_stream").count() > 0,
        "files arriving after an empty start must be processed")
    } finally q.stop()
  }

  test("streaming windowed counts equal the batch hourly totals") {
    val stream = EventStreams.readEventsStream(spark, eventsDir)
    // complete mode: append would (correctly) hold back the windows
    // still inside the watermark horizon at end-of-input
    val q = EventStreams.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("wc_stream")
      .groupBy("event_type").sum("n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = EventsOps.hourly(Tables.events(spark, TestSpark.Sf0001))
      .groupBy("event_type").sum("n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("stream-static dimension join equals the batch enrich (stateless, no watermark)") {
    val stream = EventStreams.readEventsStream(spark, eventsDir)
    val cust = Tables.customer(spark, TestSpark.Sf0001)
    val nat = Tables.nation(spark, TestSpark.Sf0001)
    val q = EventStreams.enrichedSpendByNation(stream, cust, nat)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("enrich_stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    // identical plan over the batch table: the decimal spend must be
    // bit-identical, not merely close — the fold is order-insensitive
    val batch = EventStreams.enrichedSpendByNation(
        Tables.events(spark, TestSpark.Sf0001), cust, nat)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(batch.nonEmpty, "fixture should produce enriched purchase rows")
    assert(streamed === batch)
  }

  test("streaming partitioned sink writes the layout the batch engine prunes") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-events-bydate-stream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-events-bydate-ckpt")
    val q = EventStreams.writeEventsPartitionedByDay(
      EventStreams.readEventsStream(spark, eventsDir),
      outDir.toString, ckpt.toString).start()
    try { q.processAllAvailable() } finally { q.stop() }
    // the sink must emit day= directories, not flat files
    val dayDirs = new java.io.File(outDir.toString).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("day="))
    assert(dayDirs.nonEmpty, "expected day= partition directories")
    // read back through the batch partitioned-read path (explicit
    // schema, day as string) and compare per-day counts to batch
    val schema = Tables.events(spark, TestSpark.Sf0001).schema
      .add("day", org.apache.spark.sql.types.StringType)
    val streamed = spark.read.schema(schema).parquet(outDir.toString)
    val perDay = streamed.groupBy("day").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, TestSpark.Sf0001)
      .groupBy(org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.date_trunc("day",
          org.apache.spark.sql.functions.timestamp_millis(
            org.apache.spark.sql.functions.expr("ts div 1000000"))),
        "yyyy-MM-dd").as("day")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDay === batch)
    // and a day-range filter on the STREAMED layout prunes the scan
    import org.apache.spark.sql.functions.col
    val pruned = streamed.where(col("day") === dayDirs.head.stripPrefix("day="))
    val scans = pruned.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.head.partitionFilters.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 1,
      "the single-day filter must prune the streamed layout to one directory")
  }

  test("streaming dedup drops replayed duplicates") {
    // stage the same fixture TWICE: an at-least-once replay
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      dir.resolve("b.parquet"))
    val stream = EventStreams.readEventsStream(spark, dir.toString)
    val q = EventStreams.dedupEvents(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val originals = Tables.events(spark, TestSpark.Sf0001).count()
    assert(spark.table("dedup_stream").count() === originals)
  }

  test("dropDuplicatesWithinWatermark drops replays with drifted timestamps") {
    import org.apache.spark.sql.functions._
    // replay the fixture with event times shifted +1s: exact-match
    // dedup would keep both copies; within-watermark dedup must not
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-wm-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      dir.resolve("a.parquet"))
    Tables.events(spark, TestSpark.Sf0001)
      .withColumn("ts", col("ts") + expr("1000000000"))
      .write.parquet(dir.resolve("b.parquet").toString)
    val stream = EventStreams.readEventsStream(spark, dir.toString)
    val q = EventStreams.dedupEventsWithinWatermark(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val originals = Tables.events(spark, TestSpark.Sf0001).count()
    assert(spark.table("dedup_wm_stream").count() === originals)
  }

  test("stream-stream interval join matches the batch interval join") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEventsStream(spark, eventsDir)
    val q = EventStreams.clickPurchaseIntervalJoin(stream, joinType = "inner")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ssj_stream").count()
    // batch equivalent over the same fixture
    val base = Tables.events(spark, TestSpark.Sf0001)
      .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
    val clicks = base.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_time").as("click_time"))
    val purchases = base.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_time").as("purchase_time"))
    val batch = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_time") <= col("purchase_time") &&
        col("click_time") >= col("purchase_time") - expr("INTERVAL 30 MINUTES")).count()
    assert(streamed === batch && batch > 0)
  }

  test("interval join drops input older than the committed watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (user_id, event_id, event_type, ts-nanos)
    val input = MemoryStream[(Long, Long, String, Long)]
    val events = input.toDF()
      .toDF("user_id", "event_id", "event_type", "ts")
    val q = EventStreams.clickPurchaseIntervalJoin(events, joinType = "inner")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_late")
      .start()
    def minNanos(m: Long) = m * 60L * 1000L * 1_000_000L
    try {
      // batch 1: user 1 click@600 + purchase@610 joins; the 20:00
      // (=1200 min) click AND purchase push BOTH sides' watermarks to
      // 19:00 once the batch commits (watermark = max event time - 1h,
      // global = min across sides)
      input.addData(
        (1L, 1L, "click", minNanos(600)),
        (1L, 2L, "purchase", minNanos(610)),
        (98L, 3L, "click", minNanos(1200)),
        (99L, 4L, "purchase", minNanos(1200)))
      q.processAllAvailable()
      val afterB1 = spark.table("ssj_late").count()
      assert(afterB1 === 1L, s"batch 1 should emit the on-time pair: $afterB1")
      // batch 2: a late purchase at 10:15 — inside the join interval
      // of user 1's 10:00 click, but BELOW the 19:00 watermark — must
      // be dropped; the fresh user-2 pair proves the query still emits
      input.addData(
        (1L, 5L, "purchase", minNanos(615)),
        (2L, 6L, "click", minNanos(1205)),
        (2L, 7L, "purchase", minNanos(1210)))
      q.processAllAvailable()
      val rows = spark.table("ssj_late").collect()
      assert(rows.length === 2,
        s"late purchase leaked past the watermark: ${rows.mkString(";")}")
      assert(rows.map(_.getLong(1)).toSet === Set(1L, 2L))
      assert(!rows.map(_.getLong(0)).contains(5L),
        "the sub-watermark purchase must not appear in the join output")
    } finally q.stop()
  }

  test("left-outer interval join null-pads unmatched purchases only after watermark eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Long)]
    val events = input.toDF()
      .toDF("user_id", "event_id", "event_type", "ts")
    val q = EventStreams.clickPurchaseIntervalJoin(events, joinType = "left_outer")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_outer")
      .start()
    def minNanos(m: Long) = m * 60L * 1000L * 1_000_000L
    try {
      // batch 1: user 1 has a matching click; user 2's purchase has
      // none — it must NOT null-pad yet (a matching click could still
      // arrive up to the watermark)
      input.addData(
        (1L, 1L, "click", minNanos(600)),
        (1L, 2L, "purchase", minNanos(610)),
        (2L, 3L, "purchase", minNanos(612)))
      q.processAllAvailable()
      val b1 = spark.table("ssj_outer").collect()
      assert(b1.map(_.getLong(0)).toSet === Set(2L),
        s"only the matched purchase may emit before eviction: ${b1.mkString(";")}")
      // batch 2: both sides jump to 20:00, pushing the global
      // watermark to 19:00 — past user 2's whole match window
      input.addData(
        (98L, 4L, "click", minNanos(1200)),
        (99L, 5L, "purchase", minNanos(1200)))
      q.processAllAvailable()
      // batch 3: one more batch lets the eviction emit
      input.addData((98L, 6L, "click", minNanos(1201)))
      q.processAllAvailable()
      val rows = spark.table("ssj_outer").collect()
      val byPurchase = rows.map(r => r.getLong(0) -> r).toMap
      assert(byPurchase.contains(3L),
        s"evicted unmatched purchase must null-pad: ${rows.mkString(";")}")
      assert(byPurchase(3L).isNullAt(3) && byPurchase(3L).isNullAt(4),
        "unmatched purchase must carry null click columns")
      assert(!byPurchase(3L).isNullAt(2), "purchase columns stay populated")
      assert(byPurchase(2L).getLong(3) === 1L,
        "the matched purchase keeps its click attribution")
    } finally q.stop()
  }

  test("streaming CMS grid equals the batch grid bit-for-bit") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEventsStream(spark, eventsDir)
    val q = EventStreams.streamingCmsGrid(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("cms_stream").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val batch = Tables.events(spark, TestSpark.Sf0001)
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("x"))
      .groupBy("event_type")
      .agg(graft.functions.SketchFunctions.cms(col("x"), 4, 256).as("grid"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (t, grid) =>
      assert(grid === batch(t), s"$t: state-store grid diverged from batch")
      assert(grid.sum > 0)
    }
  }

  test("streaming KMV sketch equals the batch sketch bit-for-bit") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEventsStream(spark, eventsDir)
    val q = EventStreams.streamingKmvDistinct(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("kmv_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("kmv_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, TestSpark.Sf0001)
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("double").as("h"))
      .groupBy("event_type")
      .agg(graft.functions.SketchFunctions.kmvEst(col("h"), 64).as("est_users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch,
      "incremental state-store merges must give the batch answer")
    assert(batch.values.forall(_ > 0))
  }

  test("streaming sessionize closed sessions equal the batch session records") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEventsStream(spark, eventsDir)
    val q = EventStreams.sessionize(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_eq_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sess_eq_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the stream emits a session only once its user goes quiet past the
    // gap, so at end-of-replay each user's LAST session is still open in
    // the state store: closed set = batch session records minus each
    // user's tail session
    val batch = EventsOps.sessionRecords(Tables.events(spark, TestSpark.Sf0001))
    val tails = batch.groupBy("user_id")
      .agg(max("session_start_ms").as("session_start_ms"))
    val closed = batch.join(tails, Seq("user_id", "session_start_ms"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(closed.nonEmpty)
    assert(streamed === closed,
      "replayed stream's closed-session set must equal the batch segmentation")
  }

  test("stateful sessionize emits closed sessions") {
    val stream = EventStreams.readEventsStream(spark, eventsDir)
    val q = EventStreams.sessionize(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_stream")
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    val sessions = spark.table("sess_stream").collect()
    assert(sessions.nonEmpty)
    sessions.foreach { r =>
      assert(r.getLong(2) >= 1L)   // n_events
      assert(r.getLong(3) >= 0L)   // span_ms
    }
  }

  test("streamed postings fold runs over multiple micro-batches and equals a rebuild") {
    import graft.operators.RetrievalOps
    val dir = graft.streaming.EventStreams
      .streamedPostingsLayout(spark, TestSpark.Sf0001)
    // the composition claim needs >= 2 real micro-batches — pinned
    // on the source layout the stream actually consumed
    val srcParts = new java.io.File(s"$dir/_src").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(srcParts >= 2, s"fixture must split the arriving half: $srcParts files")
    val rebuilt = java.nio.file.Files
      .createTempDirectory("postreb").toString + "/idx"
    RetrievalOps.writePostingsIndex(
      Tables.documents(spark, TestSpark.Sf0001), rebuilt)
    def lexicon(d: String) = spark.read.parquet(s"$d/lexicon")
      .collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("ctf"),
        r.getAs[Long]("df"), r.getAs[Long]("word_bucket")))
      .sortBy(identity).toSeq
    def stats(d: String) = spark.read.parquet(s"$d/stats")
      .select("n_docs", "total_tf", "n_token_docs", "avgdl")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(lexicon(s"$dir/index") === lexicon(rebuilt),
      "stream-folded lexicon != batch rebuild")
    assert(stats(s"$dir/index") === stats(rebuilt),
      "stream-folded stats != batch rebuild")
  }

  test("streamed coded-list fold over >= 2 micro-batches equals the batch upsert layout") {
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val streamed = graft.streaming.EventStreams
      .streamedIvfPqLayout(spark, TestSpark.Sf0001)
    val srcParts = new java.io.File(
        streamed.stripSuffix("/lists") + "/_src").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(srcParts >= 2, s"fixture must split the arriving half: $srcParts files")
    val batch = SimilarityOps.ivfPqUpsertListsDir(
      emb, TestSpark.Sf0001, 98, 16)
    def rows(d: String) = {
      import org.apache.spark.sql.functions.col
      spark.read.parquet(d)
        .select(col("vec_id"), col("centroid_id").cast("long"), col("codes"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList))
        .sortBy(t => (t._1, t._2)).toSeq
    }
    assert(rows(streamed) === rows(batch),
      "stream-maintained coded lists != batch upsert layout")
  }
}
