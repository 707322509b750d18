package graft.perfbench

/**
 * The metric catalog — names and units exactly as BENCHMARK.json declares
 * them — and the computation of each from a run's [[Outcome]] and, for the
 * traced run, its [[SpanTracer]].
 */
object Metrics {

  final case class Spec(name: String, unit: String)

  /** Reported by every timed run (`--trace 0`). */
  val EndToEnd: Seq[Spec] = Seq(
    Spec("setup_s", "s"),
    Spec("request_p50_s", "s"),
    Spec("timed_total_s", "s"))

  val ModuleStats: Seq[Spec] = Seq(
    Spec("wall_s", "s"), Spec("plan_ms", "ms"), Spec("jobs", "count"), Spec("task_s", "s"),
    Spec("shuffle_bytes", "bytes"), Spec("spill_bytes", "bytes"),
    Spec("peak_exec_mem_mb", "MB"), Spec("gc_ms", "ms"))

  /** Reported by every traced run (`--trace 1`). Ingest-layer values are
    * means per timed invocation; analytics values are sweep totals. */
  val PerLayer: Seq[Spec] = Seq(
    Spec("state.jobs", "count"), Spec("state.job_ms", "ms"),
    Spec("state.parts", "count"), Spec("state.compactions", "count"),
    Spec("api.get_calls", "count"), Spec("api.get_ms", "ms"),
    Spec("api.download_bytes", "bytes"), Spec("api.download_ms", "ms"),
    Spec("ingest.jobs", "count"), Spec("ingest.job_ms", "ms"), Spec("ingest.task_s", "s"),
    Spec("ingest.input_bytes", "bytes"), Spec("ingest.shuffle_bytes", "bytes"),
    Spec("ingest.spill_bytes", "bytes"), Spec("ingest.output_bytes", "bytes"),
    Spec("ingest.buckets_touched_frac", "ratio"),
    Spec("ingest.rewrite_bytes_per_input_byte", "ratio"),
    Spec("ingest.scan_task_skew", "ratio"),
    Spec("sinks.jobs", "count"), Spec("sinks.job_ms", "ms"), Spec("sinks.rows", "count"),
    Spec("jobs.invocation_ms", "ms"), Spec("jobs.spark_jobs", "count"),
    Spec("jobs.unattributed_ms", "ms")) ++
    Layers.Modules.flatMap(m => ModuleStats.map(s => s.copy(name = s"analytics.$m.${s.name}"))) ++
    Seq(Spec("analytics.fixpoints_s", "s"),
      Spec("spark.jobs", "count"), Spec("spark.stages", "count"), Spec("spark.tasks", "count"),
      Spec("spark.task_s", "s"), Spec("spark.gc_ms", "ms"), Spec("spark.shuffle_bytes", "bytes"),
      Spec("spark.spill_bytes", "bytes"), Spec("spark.peak_exec_mem_mb", "MB"),
      Spec("trace.request_p50_s", "s"), Spec("trace.timed_total_s", "s"))

  /** Unit of a catalog metric, also when prefixed `<workload>.`. */
  def unitOf(name: String): String = {
    val base = Main.Workloads.find(w => name.startsWith(w + ".")).fold(name)(w => name.drop(w.length + 1))
    (EndToEnd ++ PerLayer).find(_.name == base).map(_.unit).getOrElse(
      throw new IllegalArgumentException(s"metric $name is not in the catalog"))
  }

  def endToEnd(o: Outcome): Map[String, Double] = Map(
    "setup_s" -> o.setupS,
    "request_p50_s" -> Timing.median(o.requestWalls),
    "timed_total_s" -> o.totalS)

  private val Fixpoints = Map(
    "fixpoint.shared_cluster_edges" -> "Dedup", "fixpoint.dhash_meta_shared" -> "Multimodal")

  def perLayer(o: Outcome, t: SpanTracer): Map[String, Double] = {
    val spans = t.allSpans
    val invocations = spans.filter(_.name == "jobs.invocation")
    val invIds = invocations.map(_.request).toSet
    val n = math.max(1, invocations.size).toDouble
    val jobs = t.jobs.synchronized(t.jobs.values.toList)
    val tasks = t.tasks.synchronized(t.tasks.toList)
    val traced = jobs.filter(_.request.nonEmpty)
    val tracedTasks = tasks.filter(_.request.nonEmpty)
    val out = Map.newBuilder[String, Double]

    // ingest layers: per-invocation means
    def layerJobs(l: String) = jobs.filter(j => invIds(j.request) && t.layerOf(j) == l)
    def layerTasks(l: String) = tasks.filter(k => invIds(k.request) && t.layerOf(k) == l)
    Seq("state", "ingest", "sinks").foreach { l =>
      out += s"$l.jobs" -> layerJobs(l).size / n
      out += s"$l.job_ms" -> layerJobs(l).map(j => j.endMs - j.startMs).sum / n
    }
    val it = layerTasks("ingest")
    out += "ingest.task_s" -> it.map(_.durationMs).sum / 1000.0 / n
    out += "ingest.input_bytes" -> it.map(_.inputBytes).sum / n
    out += "ingest.shuffle_bytes" -> it.map(_.shuffleWrite).sum / n
    out += "ingest.spill_bytes" -> it.map(_.spill).sum / n
    out += "ingest.output_bytes" -> it.map(_.output).sum / n
    out += "sinks.rows" -> layerTasks("sinks").map(_.recordsWritten).sum / n
    out += "ingest.buckets_touched_frac" -> mean(t.bucketFracs.toSeq)
    out += "ingest.rewrite_bytes_per_input_byte" -> mean(t.rewriteRatios.toSeq)
    out += "ingest.scan_task_skew" -> mean(invIds.toSeq.flatMap { id =>
      val scans = tasks.filter(k => k.request == id && k.inputBytes > 0 && t.layerOf(k) == "ingest")
        .map(_.durationMs.toDouble)
      if (scans.isEmpty) None else Some(scans.max / math.max(1.0, Timing.median(scans)))
    })
    out += "api.get_calls" -> t.getCalls.get / n
    out += "api.get_ms" -> t.getNanos.get / 1e6 / n
    out += "api.download_bytes" -> t.downloadBytes.get / n
    out += "api.download_ms" -> t.downloadNanos.get / 1e6 / n
    out += "state.parts" -> t.stateParts.toDouble
    out += "state.compactions" -> t.compactions.toDouble
    out += "jobs.invocation_ms" -> invocations.map(s => s.endMs - s.startMs).sum / n
    out += "jobs.spark_jobs" -> jobs.count(j => invIds(j.request)) / n
    out += "jobs.unattributed_ms" -> invocations.map { inv =>
      val inside = jobs.filter(_.request == inv.request).map(j => (j.startMs, j.endMs)) ++
        spans.filter(s => s.parent == inv.id).map(s => (s.startMs, s.endMs))
      (inv.endMs - inv.startMs) - t.covered(inside, inv.startMs, inv.endMs)
    }.sum / n

    // analytics: per module, over the sweep's queries
    Layers.Modules.foreach { m =>
      val qs = o.perRequest.keySet.filter(q => Layers.ModuleOf.get(q).contains(m))
      val reqSpans = spans.filter(s => s.name == "bench.request" && qs(s.request))
      val mt = tasks.filter(k => qs(k.request))
      val p = s"analytics.$m"
      out += s"$p.wall_s" -> qs.toSeq.map(o.perRequest).sum
      out += s"$p.plan_ms" -> t.plans.synchronized(t.plans.toList).collect {
        case (start, ms) if reqSpans.exists(s => start >= s.startMs && start <= s.endMs) => ms.toDouble
      }.sum
      out += s"$p.jobs" -> jobs.count(j => qs(j.request)).toDouble
      out += s"$p.task_s" -> mt.map(_.durationMs).sum / 1000.0
      out += s"$p.shuffle_bytes" -> mt.map(_.shuffleWrite).sum.toDouble
      out += s"$p.spill_bytes" -> mt.map(_.spill).sum.toDouble
      out += s"$p.peak_exec_mem_mb" -> (if (mt.isEmpty) 0.0 else mt.map(_.peakMem).max / 1e6)
      out += s"$p.gc_ms" -> mt.map(_.gcMs).sum.toDouble
    }
    out += "analytics.fixpoints_s" -> spans.filter(s => Fixpoints.contains(s.request))
      .map(s => s.endMs - s.startMs).sum / 1000.0

    // the whole traced phase
    out += "spark.jobs" -> traced.size.toDouble
    out += "spark.stages" -> tracedTasks.map(_.stageId).distinct.size.toDouble
    out += "spark.tasks" -> tracedTasks.size.toDouble
    out += "spark.task_s" -> tracedTasks.map(_.durationMs).sum / 1000.0
    out += "spark.gc_ms" -> tracedTasks.map(_.gcMs).sum.toDouble
    out += "spark.shuffle_bytes" -> tracedTasks.map(_.shuffleWrite).sum.toDouble
    out += "spark.spill_bytes" -> tracedTasks.map(_.spill).sum.toDouble
    out += "spark.peak_exec_mem_mb" -> (if (tracedTasks.isEmpty) 0.0 else tracedTasks.map(_.peakMem).max / 1e6)
    out += "trace.request_p50_s" -> Timing.median(o.requestWalls)
    out += "trace.timed_total_s" -> o.totalS
    out.result()
  }

  /** Checks of the traced run itself: the rows `JdbcSink`'s write tasks
    * wrote in each invocation must be the rows the model staged. */
  def traceErrors(o: Outcome, t: SpanTracer): Seq[String] = {
    val tasks = t.tasks.synchronized(t.tasks.toList)
    o.stagedRows.toSeq.sortBy(_._1).flatMap { case (req, want) =>
      val got = tasks.filter(k => k.request == req && t.layerOf(k) == "sinks").map(_.recordsWritten).sum
      if (got == want) None else Some(s"trace: invocation $req: sinks wrote $got rows, model $want")
    }
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The result line: `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. */
  def json(o: Outcome, metrics: Map[String, Double]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "${unitOf(k)}"}"""
    }
    s"""{"correct": ${o.errors.isEmpty && o.failed == 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** All digits of a double; integral values without a fraction. */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}
