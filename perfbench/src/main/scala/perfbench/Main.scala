package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `--mode run` times the set-up (session
  * build + the cold first job), runs untimed warm-up jobs for a few
  * seconds, then
  * runs one workload as a closed loop (the next job starts only after
  * the last one finished and was checked) and writes a raw report.
  * `perfbench/run.py` turns the
  * report into the printed metrics. `--mode oracle-sql` prints a registry
  * query's DuckDB oracle.
  */
object Main {
  val MaxFailures = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    opt("mode") match {
      case "oracle-sql" => print(graft.SparkEntry.oracleSql(opt("query")))
      case "run" =>
        val report = run(opt("workload"), opt("corpus"), new File(opt("work")),
          opt("seconds").toDouble, opt("warmup").toDouble, opt("trace") == "1",
          opt("cpus").toInt)
        Files.write(new File(opt("report")).toPath, Json.write(report).getBytes(UTF_8))
    }
  }

  def session(cpus: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.NativeText.register(spark)
    spark
  }

  def run(name: String, corpus: String, work: File, seconds: Double, warmupSeconds: Double,
          traced: Boolean, cpus: Int): Map[String, Any] = {
    val workload = Workloads(name, corpus)
    val heap = new HeapWatch
    var attempted, failed, nextOut = 0
    val errors = mutable.ArrayBuffer.empty[String]

    /** Runs one job and then its untimed check; returns the job's wall
      * time, or None when it threw or answered wrong.
      */
    def iteration(spark: SparkSession, job: String => Outcome)(
        after: Outcome => Unit): Option[Double] = {
      val out = new File(work, s"out-$nextOut")
      nextOut += 1
      attempted += 1
      try {
        val t0 = System.nanoTime()
        val o = heap.window(job(out.getPath))
        val seconds = (System.nanoTime() - t0) / 1e9
        after(o)
        o.check() match {
          case None => Some(seconds)
          case Some(wrong) => failed += 1; errors += wrong; None
        }
      } catch {
        case e: Exception => failed += 1; errors += e.toString; None
      } finally {
        Workloads.deleteTree(out)
        System.gc() // each job starts from a collected heap
      }
    }

    // set-up: session build + function registration + the cold first job;
    // once per JVM, so it is always cold
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val untraced = new Tracer(spark.sparkContext, enabled = false)
    var setupS = Seq.empty[Double]
    iteration(spark, out => workload.job(spark, untraced, out))(_ =>
      setupS = Seq((System.nanoTime() - t0) / 1e9))
    System.err.println(f"perfbench: session $sessionS%.3f s, set-up ${setupS.headOption.getOrElse(0.0)}%.3f s")

    val jobS = mutable.ArrayBuffer.empty[Double]
    val tracedJobS = mutable.ArrayBuffer.empty[Double]
    val tracedSamples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer(spark.sparkContext, enabled = true)
    val collector = new StageCollector
    // untimed warm-up: the JIT is still compiling the job's hot paths
    // for several jobs after the cold one
    val warmupEnd = System.nanoTime() + (warmupSeconds * 1e9).toLong
    var warmups = 0
    while (failed == 0 && (warmups < 2 || System.nanoTime() < warmupEnd)) {
      iteration(spark, out => workload.job(spark, untraced, out))(_ => ())
      warmups += 1
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val failedBefore = failed
    // past the deadline, go on only until there are two samples of each
    // kind, and never past a few failures: a job that always fails must
    // still end the run with a report
    def more = jobS.size < 2 || (traced && tracedJobS.size < 2)
    heap.reset()
    while (System.nanoTime() < deadline || (more && failed - failedBefore < Main.MaxFailures)) {
      iteration(spark, out => workload.job(spark, untraced, out))(_ => ()).foreach(jobS += _)
      if (traced) {
        tracer.trace += 1
        spark.sparkContext.addSparkListener(collector)
        var probeSamples = Map.empty[String, Seq[Double]]
        iteration(spark, out => tracer.span("job")(workload.job(spark, tracer, out))) { o =>
          val probeOut = new File(work, "probe")
          try probeSamples = tracer.span("probe")(workload.probes(spark, tracer, probeOut.getPath))
          finally Workloads.deleteTree(probeOut)
          PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(collector)
          tracedSamples += Map("trace" -> tracer.trace, "samples" -> (o.samples ++ probeSamples))
        }.foreach(tracedJobS += _)
        spark.sparkContext.removeSparkListener(collector)
      }
    }
    spark.stop()

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> name,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.take(5).toSeq,
      "setup_s" -> setupS.toSeq,
      "job_s" -> jobS.toSeq,
      "heap_peak_mb" -> heap.peakMb)
    if (traced) report ++= Seq(
      "traced_job_s" -> tracedJobS.toSeq,
      "traced" -> tracedSamples.toSeq,
      "spans" -> tracer.spans.toSeq.map(s => Map(
        "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.startNs / 1e9, "end" -> s.endNs / 1e9)),
      "jobs" -> collector.jobSpans.toSeq.map { case (j, s) => Map("job" -> j, "span" -> s) },
      "stages" -> collector.stages.values.toSeq.map(r => Map(
        "stage" -> r.stageId, "attempt" -> r.attempt, "span" -> r.span, "name" -> r.name,
        "tasks" -> r.tasks, "failed_tasks" -> r.failedTasks,
        "output_bytes" -> r.outputBytes,
        "shuffle_read_records" -> r.shuffleReadRecords, "fetch_wait_s" -> r.fetchWaitMs / 1e3,
        "shuffle_write_records" -> r.shuffleWriteRecords,
        "shuffle_write_bytes" -> r.shuffleWriteBytes, "spill_bytes" -> r.spillBytes,
        "peak_exec_mem" -> r.peakExecMem, "cpu_s" -> r.cpuNs / 1e9, "gc_s" -> r.gcMs / 1e3,
        "slot_wait_s" -> r.slotWaitMs / 1e3, "task_s" -> r.taskMs.toSeq.map(_ / 1e3))))
    report.toMap
  }
}

/** Heap in use right after a GC, for GCs that start inside a [[window]]
  * (local mode: the executors' heap is this JVM's heap). A window's peak
  * is its largest such value; [[peakMb]] is the median over windows, so
  * one job whose GC fell at an unlucky moment does not set the figure.
  */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val gcs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private def uptimeMs = ManagementFactory.getRuntimeMXBean.getUptime

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = info.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          gcs.add(info.getStartTime -> used)
        }, null, null)
    case _ => ()
  }

  def window[T](body: => T): T = {
    val start = uptimeMs
    try body finally windows.synchronized(windows += start -> uptimeMs)
  }

  def reset(): Unit = windows.synchronized(windows.clear())

  def peakMb: Double = {
    val events = gcs.asScala.toList
    val peaks = windows.synchronized(windows.toList).flatMap { case (a, b) =>
      events.collect { case (t, used) if t >= a && t <= b => used }.maxOption
    }.sorted
    if (peaks.isEmpty) 0.0
    else (peaks((peaks.size - 1) / 2) + peaks(peaks.size / 2)) / 2.0 / 1048576.0
  }
}
