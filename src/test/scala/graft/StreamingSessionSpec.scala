package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the event-time-timeout session semantics the
  * `streamed_session_counts` oracle encodes, on a constructed
  * two-phase fixture covering every corner: in-batch gap closure,
  * watermark timeout, the junction merge/break of phase-2 rows into a
  * surviving open session, the late drop (whose absence would even
  * regress a session's span below zero), the BOUNDARY (both rules are
  * `<=`: a timeout timestamp equal to the watermark fires, and a row
  * whose event time equals the watermark is dropped as late), and
  * open sessions withheld at the end.
  */
class StreamingSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val BaseMs = 600000L * 3600000L // a modern, hour-aligned epoch base
  private def ns(hour: Long, minute: Long): Long =
    (BaseMs + hour * 3600000L + minute * 60000L) * 1000000L
  private def ms(hour: Long, minute: Long): Long =
    BaseMs + hour * 3600000L + minute * 60000L

  private def df(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows
      .map { case (id, user, ts) => (id, ts, user, "a", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  // phase 1: max ts = hour 20:00 -> WM1 = 14:00 (6h delay)
  private def phase1 = df(Seq(
    (1L, 1L, ns(1, 0)), (2L, 1L, ns(1, 10)), // u1 session A (closes in-batch)
    (3L, 1L, ns(3, 0)),   // u1 session B (times out at WM1)
    (4L, 2L, ns(13, 30)), // u2: last+gap == WM1 EXACTLY (the tie)
    (5L, 3L, ns(13, 50)), // u3: open through WM1
    (6L, 4L, ns(13, 40)), (7L, 4L, ns(13, 55)), // u4 open session
    (8L, 5L, ns(13, 45)), // u5 open session
    (9L, 99L, ns(20, 0)))) // the max; open through WM2
  // phase 2: max ts = hour 30:00 -> WM2 = 24:00
  private def phase2 = df(Seq(
    (10L, 1L, ns(15, 0)),  // u1: fresh session (old state timed out)
    (11L, 2L, ns(14, 0)),  // u2: ms == WM1 exactly -> DROPPED (late filter is <=)
    (12L, 3L, ns(16, 0)),  // u3: junction BREAK (gap exceeded)
    (13L, 4L, ns(14, 10)), // u4: junction MERGE (within gap)
    (14L, 5L, ns(13, 0)),  // u5: LATE (< WM1) -> dropped
    (15L, 6L, ns(20, 10)), // u6 arrives only now... (see below)
    (16L, 6L, ns(23, 50)), // u6: second row breaks, tail stays open at WM2
    (17L, 98L, ns(30, 0)))) // the new max; open at WM2 -> withheld

  private def expected = Seq(
    (1L, ms(1, 0), 2L, 600000L),    // u1 A: in-batch close
    (1L, ms(3, 0), 1L, 0L),         // u1 B: WM1 timeout
    (1L, ms(15, 0), 1L, 0L),        // u1 C: WM2 timeout
    (2L, ms(13, 30), 1L, 0L),       // u2: timeout fires AT equality; tie row late-dropped
    (3L, ms(13, 50), 1L, 0L),       // u3: junction break
    (3L, ms(16, 0), 1L, 0L),        // u3 tail: WM2 timeout
    (4L, ms(13, 40), 3L, 1800000L), // u4: junction merge
    (5L, ms(13, 45), 1L, 0L),       // u5: late row dropped, span stays 0
    (6L, ms(20, 10), 1L, 0L),       // u6: in-batch break; tail withheld
    (99L, ms(20, 0), 1L, 0L)        // u99: WM2 timeout
  ).sorted                          // u98: open at WM2 -> absent

  /** The sessions `sink` leaves after the two-phase replay. */
  private def replay(sink: (org.apache.spark.sql.DataFrame, String, String) =>
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])
      : Seq[(Long, Long, Long, Long)] = {
    val root = java.nio.file.Files.createTempDirectory("graft-sess-spec")
    try {
      graft.streaming.EventStreams.twoPhaseReplay(spark, root.toString, phase1, phase2)(sink)
      spark.read.parquet(root.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
    } finally graft.sources.Fixtures.deleteTree(root)
  }

  test("two-phase session replay: gap close, timeouts, junction merge/break, late drop") {
    assert(replay(graft.streaming.EventStreams.writeSessionized(_, _, _)) === expected)
  }

  test("the transformWithState sessionizer gives the same rows on the two-phase replay") {
    import graft.streaming.EventStreams
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(providerKey)
    val got = EventStreams.withRocksDbStateStore(spark)(
      replay(EventStreams.writeSessionizedTws(_, _, _)))
    assert(got === expected)
    assert(spark.conf.getOption(providerKey) === before, "the provider conf is restored")
  }
}
