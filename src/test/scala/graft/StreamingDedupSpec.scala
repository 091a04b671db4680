package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the late-row and state-lifetime semantics the
  * `streamed_dedup_events` oracle encodes, on a constructed two-phase
  * fixture covering every corner:
  *
  *  - a re-send whose original's state is LIVE is dropped;
  *  - a late row (event time < checkpointed watermark) is dropped on
  *    input, duplicate or not — including the expired-state-but-late
  *    corner, where only the late filter stands between a re-send and
  *    a double delivery;
  *  - an on-time first delivery always lands;
  *  - state and watermark persist across a stop/restart.
  */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val H = 3600000L
  private val BaseHour = 500000L
  private def ns(hour: Long): Long = ((BaseHour + hour) * H) * 1000000L
  private def ms(hour: Long): Long = (BaseHour + hour) * H

  test("two-phase dedup replay: live-state drop, late drop, restart persistence") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-dedup-spec")

    def df(rows: Seq[(Long, Long)]) = rows
      .map { case (id, ts) => (id, ts, 1L, "a", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // phase 1: max ts = hour 8 -> WM1 = hour 2
    val phase1 = Seq(
      1L -> ns(0),  // state expires when WM > hour 6
      2L -> ns(5),  // state expires when WM > hour 11
      4L -> ns(-5), // OLD row: state expires when WM > hour 1 (< WM1)
      3L -> ns(8))  // the max
    // phase 2 under checkpointed WM1 = hour 2
    val phase2 = Seq(
      1L -> ns(0),   // re-send, late, state LIVE (hour6 > WM1): dropped
      4L -> ns(-5),  // re-send, late, state EXPIRED: only the late filter drops it
      2L -> ns(5),   // re-send, on time, state live: dropped
      10L -> ns(3),  // new, on time: lands
      11L -> ns(1),  // new, late: dropped
      12L -> ns(14)) // new, on time: lands (the new max)

    graft.streaming.EventStreams.twoPhaseReplay(spark, root.toString,
      df(phase1), df(phase2))(graft.streaming.EventStreams.writeDedupedEvents(_, _, _))

    val got = spark.read.parquet(root.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expected = Seq(
      1L -> ms(0), 2L -> ms(5), 3L -> ms(8), 4L -> ms(-5), // phase 1, all land
      10L -> ms(3), 12L -> ms(14)).sorted
    assert(got === expected)

    graft.sources.Fixtures.deleteTree(root)
  }
}
