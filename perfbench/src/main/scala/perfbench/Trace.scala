package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, attrs: Map[String, Any])

/** In-memory span recorder. Each call the benchmark makes into a layer
  * runs inside [[span]]; with tracing off the body runs unrecorded. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val bookkeepingNs = new AtomicLong(0)

  def span[T](name: String, parent: Long = 0L,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val start = Clock.nowMs
      try body(id)
      finally {
        val t0 = System.nanoTime()
        spans.add(Span(id, name, start, Clock.nowMs, parent, attrs))
        bookkeepingNs.addAndGet(System.nanoTime() - t0)
      }
    }

  /** Time spent recording spans and listener events, in seconds. */
  def bookkeepingS: Double = bookkeepingNs.get() / 1e9
  def addBookkeeping(ns: Long): Unit = { bookkeepingNs.addAndGet(ns); () }

  def records: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map { s =>
    Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> s.parent, "run" -> runId,
      "attrs" -> s.attrs)
  }
}

/** One record per micro-batch, from Spark's progress report. Shared by
  * the listener (traced runs) and `recentProgress` (untraced runs). */
object Progress {
  private def longOf(m: java.util.Map[String, java.lang.Long], k: String): Long =
    Option(m.get(k)).map(_.longValue).getOrElse(0L)

  def record(p: StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs
    val ops = p.stateOperators.toSeq
    val custom = ops.flatMap(_.customMetrics.asScala.toSeq)
    def customSum(pred: String => Boolean): Long =
      custom.collect { case (k, v) if pred(k) => v.longValue }.sum
    Map(
      "query" -> p.name, "run_id" -> p.runId.toString, "batch" -> p.batchId,
      "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows_in" -> p.numInputRows,
      "trigger_ms" -> longOf(d, "triggerExecution"),
      "planning_ms" -> longOf(d, "queryPlanning"),
      "add_batch_ms" -> longOf(d, "addBatch"),
      "commit_ms" -> (longOf(d, "walCommit") + longOf(d, "commitOffsets")),
      "latest_offset_ms" -> longOf(d, "latestOffset"),
      "get_batch_ms" -> longOf(d, "getBatch"),
      "watermark_ms" -> Option(p.eventTime.get("watermark"))
        .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(-1L),
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
      "rocks_commit_ms" -> customSum(k => k.startsWith("rocksdbCommit") && k.endsWith("Latency")),
      "rocks_sst_bytes" -> customSum(_ == "rocksdbSstFileSize"))
  }
}

/** Per-micro-batch records, keyed to the query through its run id. */
final class BatchListener(tracer: Tracer) extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  val runNames = new java.util.concurrent.ConcurrentHashMap[String, String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    runNames.put(e.runId.toString, Option(e.name).getOrElse(e.id.toString)); ()
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    batches.add(Progress.record(e.progress))
    tracer.addBookkeeping(System.nanoTime() - t0)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** One record per Spark job, plus task totals per job group. Streaming
  * queries run their jobs under the query's run id as job group; the
  * batch suite sets the query name as job group. */
final class JobListener(tracer: Tracer) extends SparkListener {
  final class Agg {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var shuffleBytes = 0L
    var spillBytes = 0L; var scanBytes = 0L
  }
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Agg]()

  private def agg(g: String): Agg = byGroup.computeIfAbsent(g, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    agg(g).synchronized { agg(g).jobs += 1 }
    tracer.addBookkeeping(System.nanoTime() - t0)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = System.nanoTime()
    jobs.add(Map("job" -> e.jobId, "group" -> jobGroup.getOrDefault(e.jobId, "-"),
      "start_ms" -> jobStart.getOrDefault(e.jobId, e.time), "end_ms" -> e.time))
    tracer.addBookkeeping(System.nanoTime() - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageGroup.getOrDefault(e.stageId, "-"))
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        a.scanBytes += m.inputMetrics.bytesRead
      }
    }
    tracer.addBookkeeping(System.nanoTime() - t0)
  }

  def groups: Map[String, Map[String, Any]] = byGroup.asScala.map { case (g, a) =>
    g -> Map[String, Any]("jobs" -> a.jobs, "tasks" -> a.tasks,
      "task_s" -> a.runMs / 1000.0, "shuffle_mb" -> a.shuffleBytes / 1048576.0,
      "spill_mb" -> a.spillBytes / 1048576.0, "scan_mb" -> a.scanBytes / 1048576.0)
  }.toMap
}

/** Process-level figures: peak resident set and GC time. */
object Jvm {
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  def gcS: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
}
