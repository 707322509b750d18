package graft.perfbench

import java.nio.file.Path

import graft.config.Settings
import graft.ingest.BucketedMerge
import graft.jobs.IngestMain
import graft.perfbench.CanvasGen._
import graft.state.IngestState
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The two ingest workloads. Each is a closed loop with one client: the
 * next `IngestMain.run` starts when the previous one returns. The loader
 * sees only the generated portal, an embedded Derby database and its own
 * state and warehouse directories.
 */
object IngestWorkloads {

  /** Ledger entries the hourly listing keeps returning: half a day of
    * hourly dumps that were processed before the benchmark starts. */
  val SeededDumps = 12
  /** Invocations every `cron_hourly` run makes, however fast they are:
    * three, so `cron_p50_s` is a true median. */
  val CronInvocations = 3

  val CronTables: Seq[Table] = Seq(UserDim, SubmissionFact, QuizDim, ActivityFact)
  val SnapshotSizes = Sizes(users = 10000, submissions = 40000, quizzes = 2000, activity = 2000,
    requests = 0, userSpace = 10000, submissionSpace = 40000)
  val HourlySizes = SnapshotSizes.copy(users = 2000, submissions = 16000)

  /** A first install: a handful of large dumps whose keys repeat across
    * dumps; `requests` is several times larger than any other artifact
    * but far below `ApiClient`'s 1 GiB rechunk threshold. */
  val BackfillDumps = 4
  val BackfillSizes = Sizes(users = 5000, submissions = 20000, quizzes = 500, activity = 500,
    requests = 60000, userSpace = 6000, submissionSpace = 25000)

  /** One loader deployment: portal, settings and the model of its state. */
  final class Site(val spark: SparkSession, root: Path, dbName: String) {
    val portal = new Portal(root.resolve("portal"))
    val jdbcUrl = s"jdbc:derby:memory:$dbName;create=true"
    val warehouse = root.resolve("save/warehouse").toString
    val stateDir = root.resolve("state").toString
    val model = new ExpectedState
    var listed = Vector.empty[Listed]
    var inputRows = 0L
    var inputBytes = 0L
    val settings: Settings = Settings.fromMap(Map(
      "save_location" -> root.resolve("save").toString,
      "rocksdb_location" -> stateDir,
      "database.url" -> jdbcUrl,
      "canvasdataauth.api_key" -> "bench-key",
      "canvasdataauth.api_secret" -> "bench-secret",
      "api_base_url" -> Portal.Base))

    /** Publish `d` on the portal; returns its uncompressed TSV bytes. */
    def publish(d: Dump): Long = {
      val raw = portal.publish(d)
      inputBytes += raw
      inputRows += d.rows
      listed :+= Listed(d.id, d.seq)
      model(d)
      raw
    }

    /** One `IngestMain.run` over the current listing; returns its wall. */
    def run(trace: Tracer, requestId: String): Double = {
      portal.list(listed)
      trace.invocation(requestId) {
        Timing.seconds(IngestMain.run(spark, settings, trace.transport(portal.transport)))
      }
    }

    def check(): Seq[String] = StateCheck.check(spark, model, warehouse, Some(jdbcUrl))

    def parquetBytes: Long = Timing.treeBytes(java.nio.file.Paths.get(warehouse), _.endsWith(".parquet"))
  }

  def cronHourly(spark: SparkSession, root: Path, seed: Long, seconds: Int, trace: Tracer): Outcome = {
    val site = new Site(spark, root, s"cron_$seed")
    val snapshotSeq = SeededDumps + 1L
    val setup = Timing.seconds {
      site.portal.publishSchema(CronTables)
      site.publish(dump(seed, snapshotSeq, CronTables, SnapshotSizes))
      Log.phase("cron_hourly preload")(site.run(Tracer.Off, "preload"))
      val state = new IngestState(spark, site.stateDir)
      val seeded = (1L to SeededDumps).map(s => Listed(dump(seed, s, Nil, HourlySizes).id, s))
      Log.phase("cron_hourly ledger seed")(
        seeded.foreach(d => state.setDumpStatus(d.id, IngestState.Successful)))
      site.listed = seeded.toVector ++ site.listed
    }

    val walls = Vector.newBuilder[Double]
    val staged = Map.newBuilder[String, Long]
    val started = System.nanoTime()
    trace.noteState(site.stateDir)
    var i = 0
    while (i < CronInvocations || (System.nanoTime() - started) / 1e9 < seconds) {
      val d = dump(seed, snapshotSeq + 1 + i, CronTables, HourlySizes)
      val raw = site.publish(d)
      walls += Log.phase(s"cron_hourly ${d.id}")(
        trace.aroundInvocation(site.warehouse, d, raw) { site.run(trace, d.id) })
      staged += d.id -> d.rows // keys are unique within a dump
      trace.noteState(site.stateDir)
      i += 1
    }
    val w = walls.result()
    val (readWall, readErrors) = Timing.timed(readSet(spark, site, trace))
    val errors = readErrors ++ Log.phase("cron_hourly check")(site.check())
    Outcome(
      workload = "cron_hourly",
      setupS = setup,
      requestWalls = w,
      totalS = w.take(CronInvocations).sum + readWall,
      attempted = w.size + 1,
      failed = if (errors.isEmpty) 0 else 1,
      errors = errors,
      named = Seq(
        ("cron_p50_s", Timing.median(w), "s"),
        ("cron_total_s", w.take(CronInvocations).sum, "s"),
        ("cron_invocations", w.size.toDouble, "count"),
        ("read_after_load_s", readWall, "s"),
        ("warehouse_bytes_per_input_byte", site.parquetBytes.toDouble / site.inputBytes, "ratio")),
      stagedRows = staged.result())
  }

  /** One invocation loads every dump, so `--seconds` does not apply. */
  def backfill(spark: SparkSession, root: Path, seed: Long, trace: Tracer): Outcome = {
    val site = new Site(spark, root, s"backfill_$seed")
    val dumps = (1L to BackfillDumps).map(s => dump(seed, s, AllTables, BackfillSizes))
    val setup = Timing.seconds {
      site.portal.publishSchema(AllTables)
      dumps.foreach(site.publish)
    }
    trace.noteState(site.stateDir)
    val wall = trace.aroundInvocation(site.warehouse, dumps.last, site.inputBytes) {
      site.run(trace, "backfill")
    }
    trace.noteState(site.stateDir)
    val errors = site.check()
    Outcome(
      workload = "backfill",
      setupS = setup,
      requestWalls = Vector(wall),
      totalS = wall,
      attempted = 1,
      failed = if (errors.isEmpty) 0 else 1,
      errors = errors,
      named = Seq(
        ("backfill_rows_per_s", site.inputRows / wall, "rows/s"),
        ("backfill_input_rows", site.inputRows.toDouble, "count"),
        ("backfill_input_bytes", site.inputBytes.toDouble, "bytes"),
        ("warehouse_bytes_per_input_byte", site.parquetBytes.toDouble / site.inputBytes, "ratio")),
      // the loader stages each dump in turn
      stagedRows = Map("backfill" -> site.inputRows))
  }

  /** The fixed read set after the last load, over `BucketedMerge.read`:
    * one scan per incremental table, primary-key lookups and one
    * fact⋈dim aggregate. Every answer is checked against the model. */
  def readSet(spark: SparkSession, site: Site, trace: Tracer): Seq[String] = trace.request("read_set") {
    val errors = Seq.newBuilder[String]
    def table(t: Table) = BucketedMerge.read(spark, s"${site.warehouse}/${t.name}")
    Seq(UserDim, SubmissionFact).foreach { t =>
      val n = table(t).count()
      val want = site.model.rows(t.name).size.toLong
      if (n != want) errors += s"read set: scan of ${t.name} counted $n rows, model $want"
    }
    val lookups = Seq(UserDim -> "id", SubmissionFact -> "submission_id").flatMap { case (t, k) =>
      val keys = site.model.rows(t.name).map(_(0)).sorted
      Seq(keys(keys.size / 2), "-1").map(x => (t, k, x))
    }
    lookups.foreach { case (t, k, key) =>
      val got = table(t).filter(col(k) === key.toLong)
        .select(t.cols.map(c => col(c.name)): _*).collect()
        .map(r => (0 until r.length).map(i => Canon.fromStore(r.get(i))).mkString("\t")).toSeq
      val want = site.model.row(t.name, key).toSeq.map(r => Canon.modelRows(t, Seq(r)).head)
      if (got != want) errors += s"read set: ${t.name} lookup $k=$key gave ${got.size} rows, model ${want.size}"
    }
    // fact ⋈ dim: submissions and summed score per user time zone
    val agg = table(SubmissionFact).join(table(UserDim), col("user_id") === col("id"))
      .groupBy(coalesce(col("time_zone"), lit("\\N")).as("tz"))
      .agg(count(lit(1)).as("n"), sum(coalesce(col("score"), lit(0.0))).as("score"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val users = site.model.rows(UserDim.name).map(r => r(0) -> r(3)).toMap
    val want = site.model.rows(SubmissionFact.name).flatMap { r =>
      users.get(r(1)).map(tz => (if (tz == null) "\\N" else tz, if (r(3) == null) 0.0 else r(3).toDouble))
    }.groupBy(_._1).map { case (tz, xs) => tz -> (xs.size.toLong, xs.map(_._2).sum) }
    val same = agg.keySet == want.keySet && agg.forall { case (tz, (n, s)) =>
      want(tz)._1 == n && math.abs(want(tz)._2 - s) <= 1e-6 * math.max(1.0, math.abs(s))
    }
    if (!same) errors += s"read set: fact-dim aggregate $agg differs from model $want"
    errors.result()
  }
}
