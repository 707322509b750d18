package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.Transport
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Hooks the workloads call around each request. [[Tracer.Off]] does
 * nothing, so timed runs measure the program alone; [[SpanTracer]] records
 * spans and counts from outside the program: a Spark listener, a query
 * execution listener, a wrapping [[Transport]] and warehouse listings.
 */
trait Tracer {
  def transport(t: Transport): Transport = t
  /** One `IngestMain.run`. */
  def invocation[T](requestId: String)(body: => T): T = body
  /** Any other request: a query or the read set. */
  def request[T](requestId: String)(body: => T): T = body
  /** Warehouse listing diff around one invocation that loads `d`. */
  def aroundInvocation[T](warehouse: String, d: CanvasGen.Dump, rawBytes: Long)(body: => T): T = body
  /** Ledger directory listing: the first call is the baseline. */
  def noteState(stateDir: String): Unit = ()
}

object Tracer {
  object Off extends Tracer
}

/** A Spark job: its own call site, and the SQL execution it serves. */
final case class JobRec(id: Int, site: String, execution: Option[Long], request: String,
    startMs: Long, var endMs: Long)

/** The metrics of one finished task of a job. */
final case class TaskRec(job: Int, request: String, stageId: Int, durationMs: Long,
    inputBytes: Long, shuffleWrite: Long, recordsWritten: Long,
    spill: Long, output: Long, peakMem: Long, gcMs: Long)

/** One traced interval; `parent` is the enclosing span's id (0 = none)
  * and `detail` a free-form note such as a Spark job's call site. */
final case class Span(id: Long, parent: Long, name: String, request: String,
    startMs: Long, endMs: Long, detail: String = "")

object SpanTracer {
  /** Span ids are unique across the tracers of one process, so the spans
    * of `--workload all` share one file. */
  private val ids = new AtomicLong(0)
}

final class SpanTracer(spark: SparkSession) extends Tracer {

  private val ids = SpanTracer.ids
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Option[Span] = None
  val RequestProp = "perfbench.request"

  private def record(s: Span): Unit = spans.synchronized(spans += s)

  private def span[T](name: String, requestId: String)(body: => T): T = {
    val parent = current
    val id = ids.incrementAndGet()
    val start = System.currentTimeMillis()
    current = Some(Span(id, parent.map(_.id).getOrElse(0L), name, requestId, start, start))
    val sc = spark.sparkContext
    val prevReq = sc.getLocalProperty(RequestProp)
    sc.setLocalProperty(RequestProp, requestId)
    try body
    finally {
      record(current.get.copy(endMs = System.currentTimeMillis()))
      current = parent
      sc.setLocalProperty(RequestProp, prevReq)
    }
  }

  override def invocation[T](requestId: String)(body: => T): T = span("jobs.invocation", requestId)(body)
  override def request[T](requestId: String)(body: => T): T = span("bench.request", requestId)(body)

  // --- api: every GET and download through the wrapped transport ---
  val getCalls = new AtomicLong
  val getNanos = new AtomicLong
  val downloadBytes = new AtomicLong
  val downloadNanos = new AtomicLong

  override def transport(t: Transport): Transport = new Transport {
    private def timedCall[T](name: String, nanos: AtomicLong)(body: => T): T = {
      val parent = current
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        nanos.addAndGet(System.nanoTime() - t0)
        val end = System.currentTimeMillis()
        record(Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L), name,
          parent.map(_.request).getOrElse(""), start, end))
      }
    }
    override def get(url: String, headers: Map[String, String]): Array[Byte] = {
      getCalls.incrementAndGet()
      timedCall("api.get", getNanos)(t.get(url, headers))
    }
    override def download(url: String, headers: Map[String, String], dest: Path): Unit = {
      timedCall("api.download", downloadNanos)(t.download(url, headers, dest))
      downloadBytes.addAndGet(Files.size(dest))
    }
  }

  // --- warehouse listing diffs around each invocation ---
  val bucketFracs = mutable.ArrayBuffer.empty[Double]
  val rewriteRatios = mutable.ArrayBuffer.empty[Double]

  private def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally st.close()
    }

  override def aroundInvocation[T](warehouse: String, d: CanvasGen.Dump, rawBytes: Long)(body: => T): T = {
    val root = Paths.get(warehouse)
    val before = listing(root)
    val out = body
    val after = listing(root)
    val added = after.keySet -- before.keySet
    rewriteRatios += added.toSeq.map(after).sum.toDouble / math.max(1L, rawBytes)
    // bucket dirs are `<table>/__bucket=N/part-*.parquet`
    def buckets(files: Set[String]): Map[String, Set[String]] =
      files.filter(_.contains("/__bucket=")).groupBy(f => f.substring(0, f.lastIndexOf('/')))
    val b0 = buckets(before.keySet)
    val b1 = buckets(after.keySet)
    b1.keys.groupBy(_.takeWhile(_ != '/')).foreach { case (_, dirs) =>
      val touched = dirs.count(dir => b0.getOrElse(dir, Set.empty) != b1(dir))
      bucketFracs += touched.toDouble / dirs.size
    }
    out
  }

  private var compactedBaseline: Option[Set[String]] = None
  private val compactedSeen = mutable.Set.empty[String]
  var stateParts = 0

  /** Compaction writes its output as `compacted-<seq>-<i>.parquet`, so
    * each new such name seen after the baseline is one compaction. */
  override def noteState(stateDir: String): Unit = {
    val names = Option(Paths.get(stateDir, "state.parquet").toFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".parquet"))
    val compacted = names.filter(_.startsWith("compacted-")).map(_.split('-')(1)).toSet
    stateParts = names.size
    compactedBaseline match {
      case None       => compactedBaseline = Some(compacted)
      case Some(base) => compactedSeen ++= compacted -- base
    }
  }
  def compactions: Int = compactedSeen.size

  // --- Spark: jobs, stages and tasks attributed by call site and request ---
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.Map.empty[Int, Int]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, planning ms)

  /** SQL execution id → its call site. Adaptive query stages and
    * broadcasts run as jobs submitted from Spark's own threads, so their
    * job call site is Spark's; the execution's call site is the caller's. */
  private val executions = mutable.Map.empty[Long, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val callSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
      val props = Option(e.properties)
      val req = props.flatMap(p => Option(p.getProperty(RequestProp))).getOrElse("")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, callSite, exec, req, e.time, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val m = e.taskMetrics
      val job = stageJob.get(e.stageId).flatMap(jobs.get)
      if (m != null) tasks += TaskRec(job.map(_.id).getOrElse(-1), job.map(_.request).getOrElse(""),
        e.stageId, e.taskInfo.duration, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.peakExecutionMemory, m.jvmGCTime)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        jobs.synchronized(executions(s.executionId) = s.description)
      case _ =>
    }
  }

  /** Layer of a job: its execution's call site first, then its own. */
  def layerOf(j: JobRec): String = jobs.synchronized {
    j.execution.flatMap(executions.get).flatMap(Layers.ofCallSite)
      .orElse(Layers.ofCallSite(j.site)).getOrElse("other")
  }

  def layerOf(t: TaskRec): String = jobs.synchronized(jobs.get(t.job)).map(layerOf).getOrElse("other")

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) plans.synchronized {
        plans += ((phases.values.map(_.startTimeMs).min, phases.values.map(p => p.endTimeMs - p.startTimeMs).sum))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Wait for the listener bus, then unhook. */
  def finish(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList) ++
    jobs.synchronized(jobs.values.toList).map(j =>
      Span(0, 0, s"spark.job.${layerOf(j)}", j.request, j.startMs, j.endMs,
        j.execution.flatMap(x => jobs.synchronized(executions.get(x))).getOrElse(j.site)))

  /** Appends the spans to `dest` as JSON lines, for reading after the run. */
  def write(dest: Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Files.write(dest, allSpans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"request":${q(s.request)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"detail":${q(s.detail)}}""").asJava,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
