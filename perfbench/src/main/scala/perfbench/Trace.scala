package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed interval around a call into an engine layer. Spans of one
  * traced iteration share `trace`; `parent` is 0 for a root span.
  */
final case class Span(trace: Int, id: Int, parent: Int, name: String,
                      startNs: Long, var endNs: Long)

/** Records spans in memory. While a span is open its id is the
  * `perfbench.span` local property of the driver thread, so every Spark
  * job (and its stages) launched inside it is attributed to it. A
  * disabled tracer runs the body and records nothing, so traced and
  * untraced iterations run the same code.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var trace = 0
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(trace, spans.size + 1, open.headOption.fold(0)(_.id), name,
        System.nanoTime(), 0L)
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.fold(null: String)(_.id.toString))
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Per-stage totals, summed over the stage's finished tasks. */
final class StageRecord(val stageId: Int, val attempt: Int, val span: Int) {
  var name = ""
  var submittedMs = -1L
  var tasks = 0
  var failedTasks = 0
  var outputBytes = 0L
  var shuffleReadRecords = 0L
  var fetchWaitMs = 0L
  var shuffleWriteRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L // max over tasks
  var cpuNs = 0L
  var gcMs = 0L
  var slotWaitMs = 0L // launch time minus stage submission, summed over tasks
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** SparkListener that keys every job and stage by the span that
  * launched it (the `perfbench.span` local property at job start).
  * Events arrive on the listener-bus thread; read the records only
  * after [[org.apache.spark.PerfbenchBus.drain]].
  */
final class StageCollector extends SparkListener {
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Int)] // (jobId, span)
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRecord]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).fold(0)(_.toInt)

  private def record(stageId: Int, attempt: Int): StageRecord =
    stages.getOrElseUpdate((stageId, attempt),
      new StageRecord(stageId, attempt, stageSpan.getOrElse(stageId, 0)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobSpans += e.jobId -> span
    e.stageIds.foreach(id => if (!stageSpan.contains(id)) stageSpan(id) = span)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val r = record(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    r.name = e.stageInfo.name
    r.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = record(e.stageId, e.stageAttemptId)
    r.tasks += 1
    if (e.reason != Success) r.failedTasks += 1
    val info = e.taskInfo
    r.taskMs += info.duration
    if (r.submittedMs >= 0) r.slotWaitMs += math.max(0L, info.launchTime - r.submittedMs)
    val m = e.taskMetrics
    if (m != null) {
      r.outputBytes += m.outputMetrics.bytesWritten
      r.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      r.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.diskBytesSpilled
      r.peakExecMem = math.max(r.peakExecMem, m.peakExecutionMemory)
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
    }
  }
}
