package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the EXACT late-data semantics `streamed_watermark_counts`'s
  * oracle encodes, on a constructed two-phase fixture where every
  * boundary case is present:
  *
  *  - append-mode finalization: windows whose end has passed the
  *    watermark are emitted exactly once, open windows never appear;
  *  - late drop at the CHECKPOINTED watermark: phase-2 rows into
  *    windows closed by phase 1 vanish;
  *  - closed-at-equality: a window whose end equals the watermark
  *    exactly is closed (emitted, and late for arriving rows) — the
  *    `<=` / `>` pair the generated oracle uses;
  *  - watermark persistence across a stop/restart (two availableNow
  *    runs over one checkpoint).
  */
class StreamingWatermarkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val H = 3600000L
  private val BaseHour = 400000L // epoch hours; keeps ts positive & modern
  private def ns(hour: Long, minute: Long): Long =
    ((BaseHour + hour) * H + minute * 60000L) * 1000000L
  private def hourStartMs(hour: Long): Long = (BaseHour + hour) * H

  test("two-phase watermark replay: finalize, drop-late, equality boundary, restart") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-wm-spec")

    def df(rows: Seq[(Long, Long)]) = rows
      .map { case (id, ts) => (id, ts, 1L, "a", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // phase 1 (on-time bulk): max ts = hour 8 exactly -> WM1 = hour 2
    val phase1 = Seq(
      1L -> ns(0, 10), // [0,1) closes in run 1 (end 1 <= WM1)
      2L -> ns(1, 30), // [1,2): end == WM1 exactly -> the boundary
      3L -> ns(2, 20), // [2,3): open after run 1
      4L -> ns(5, 30), // [5,6): open after run 1
      5L -> ns(8, 0))  // the max; [8,9) stays open through run 2
    // phase 2 (stragglers + advance): max ts = hour 14:15 -> WM2 = hour 8:15
    val phase2 = Seq(
      6L -> ns(0, 40),  // late into closed [0,1): dropped
      7L -> ns(1, 45),  // late into boundary [1,2): dropped iff closed-at-equality
      8L -> ns(2, 40),  // on time into open [2,3): counted
      9L -> ns(6, 15),  // new open window [6,7), closes under WM2
      10L -> ns(14, 15)) // the new max; [14,15) stays open

    graft.streaming.EventStreams.twoPhaseReplay(spark, root.toString,
      df(phase1), df(phase2))(graft.streaming.EventStreams.writeWatermarkedHourly(_, _, _))

    val got = spark.read.parquet(root.toString)
      .select(unix_millis(col("hour")).as("ms"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val expected = Map(
      hourStartMs(0) -> 1L, // phase-2 straggler dropped
      hourStartMs(1) -> 1L, // closed-at-equality: straggler dropped
      hourStartMs(2) -> 2L, // open at WM1: both phases counted
      hourStartMs(5) -> 1L,
      hourStartMs(6) -> 1L) // phase-2-only window under WM2
    assert(got === expected) // [8,9) and [14,15) open -> absent

    graft.sources.Fixtures.deleteTree(root)
  }
}
