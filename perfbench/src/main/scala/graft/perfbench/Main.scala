package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point, launched by `perfbench/run.py`:
 *
 * {{{
 * Main --workload <cron_hourly|backfill|query_battery|all> --seed N --seconds S
 *      --trace 0|1 --work DIR --fixture DIR --expected FILE [--record 1]
 * }}}
 *
 * One process, one SparkSession with the same configuration for every
 * workload. The last stdout line is the result JSON; `metric` lines before
 * it give every named metric of the workload with its unit. Exits 1 when
 * any output is wrong.
 */
object Main {

  val Workloads = Seq("cron_hourly", "backfill", "query_battery")

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def runOne(spark: SparkSession, workload: String, opts: Map[String, String], work: Path,
      trace: Tracer): Outcome = {
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    workload match {
      case "cron_hourly" => IngestWorkloads.cronHourly(spark, work.resolve("cron"), seed, seconds, trace)
      case "backfill"    => IngestWorkloads.backfill(spark, work.resolve("backfill"), seed, trace)
      case "query_battery" =>
        Battery.run(spark, opts("fixture"), Paths.get(opts("expected")),
          opts.get("record").contains("1"), trace)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(workload == "all" || Workloads.contains(workload), s"unknown workload $workload")
    val traced = opts.get("trace").contains("1")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))

    val (sessionS, spark) = Timing.timed(session(work))
    val code = try {
      val names = if (workload == "all") Workloads else Seq(workload)
      // one tracer per workload, so `all` attributes each layer metric to
      // the workload that produced it
      val (outcomes, tracers) = names.map { w =>
        val tracer = if (traced) Some(new SpanTracer(spark)) else None
        val o = runOne(spark, w, opts, work, tracer.getOrElse(Tracer.Off))
        tracer.foreach(_.finish())
        val bad = tracer.toSeq.flatMap(Metrics.traceErrors(o, _))
        (o.copy(setupS = o.setupS + sessionS, errors = o.errors ++ bad,
          failed = if (bad.isEmpty) o.failed else math.max(o.failed, 1)), tracer)
      }.unzip
      outcomes.foreach { o =>
        o.errors.foreach(e => System.err.println(s"[perfbench] ${o.workload}: $e"))
        (o.named :+ (("failed_frac", o.failed.toDouble / o.attempted, "ratio"))).foreach { case (n, v, u) =>
          println(s"metric ${o.workload} $n ${Metrics.fmt(v)} $u")
        }
      }
      val metrics = outcomes.zip(tracers).map { case (o, tracer) =>
        tracer.map(Metrics.perLayer(o, _)).getOrElse(Metrics.endToEnd(o))
      }
      tracers.flatten.foreach(t => t.write(work.resolve("spans.jsonl")))
      val merged = outcomes.reduce((a, b) => a.copy(
        workload = "all", attempted = a.attempted + b.attempted, failed = a.failed + b.failed,
        errors = a.errors ++ b.errors))
      // `all` prefixes each metric with its workload
      val flat =
        if (workload == "all") outcomes.zip(metrics).flatMap { case (o, m) =>
          m.map { case (k, v) => s"${o.workload}.$k" -> v } }.toMap
        else metrics.head
      flat.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"metric $workload $k ${Metrics.fmt(v)}") }
      println(Metrics.json(merged, flat))
      if (merged.errors.isEmpty && merged.failed == 0) 0 else 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    } finally spark.stop()
    sys.exit(code)
  }
}
