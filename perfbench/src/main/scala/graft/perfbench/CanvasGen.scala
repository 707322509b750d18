package graft.perfbench

import java.io.{BufferedOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/**
 * Deterministic Canvas-shaped dump generator. Everything it produces — the
 * schema, the dump listing, every row of every artifact — is a pure
 * function of the seed and the dump's position, so the same seed gives
 * byte-identical artifacts.
 *
 * The schema covers every load path of the loader:
 *  - `user_dim`: incremental dimension keyed `id`;
 *  - `submission_fact`: incremental fact keyed `submission_id` by the
 *    suffix rule of `KeyInference`;
 *  - `quiz_dim`: a `Volatile.tables` member (dropped and reloaded);
 *  - `account_activity_fact`: no inferable key, so the loader falls back
 *    to volatile semantics;
 *  - `requests`: the large volatile request log (backfill only).
 * Nullable columns carry `\N` nulls. Keys are unique within one dump.
 */
object CanvasGen {

  val SchemaVersion = "1.0.0"

  final case class Col(name: String, tpe: String)
  final case class Table(name: String, dwType: String, incremental: Boolean, cols: Seq[Col]) {
    def key: Option[String] = graft.keys.KeyInference.idLikeColumn(name, cols.map(_.name))
    def volatile: Boolean = graft.ingest.Volatile.isVolatile(name) || key.isEmpty
  }

  val UserDim = Table("user_dim", "dimension", incremental = true, Seq(
    Col("id", "bigint"), Col("canvas_id", "bigint"), Col("name", "varchar"),
    Col("time_zone", "varchar"), Col("created_at", "timestamp"),
    Col("workflow_state", "enum")))
  val SubmissionFact = Table("submission_fact", "fact", incremental = true, Seq(
    Col("submission_id", "bigint"), Col("user_id", "bigint"), Col("assignment_id", "bigint"),
    Col("score", "double precision"), Col("submitted_at", "timestamp"), Col("attempt", "int")))
  val QuizDim = Table("quiz_dim", "dimension", incremental = false, Seq(
    Col("id", "bigint"), Col("course_id", "bigint"), Col("title", "text"),
    Col("points_possible", "double precision"), Col("published_at", "timestamp")))
  val ActivityFact = Table("account_activity_fact", "fact", incremental = false, Seq(
    Col("account_ref", "bigint"), Col("day_start", "timestamp"),
    Col("page_views", "bigint"), Col("participations", "bigint")))
  val Requests = Table("requests", "fact", incremental = false, Seq(
    Col("id", "guid"), Col("timestamp", "timestamp"), Col("user_id", "bigint"),
    Col("course_id", "bigint"), Col("url", "text"), Col("http_method", "varchar"),
    Col("http_status", "varchar"), Col("user_agent", "text"), Col("interaction_micros", "bigint")))

  val AllTables: Seq[Table] = Seq(UserDim, SubmissionFact, QuizDim, ActivityFact, Requests)

  /** Rows per table in one dump. `idSpace` bounds incremental keys, so a
    * dump mixes updates of earlier keys with new ones. */
  final case class Sizes(users: Int, submissions: Int, quizzes: Int, activity: Int,
      requests: Int, userSpace: Long, submissionSpace: Long)

  final case class Dump(id: String, seq: Long, createdAt: String,
      tables: Seq[(Table, Seq[Array[String]])]) {
    def rows: Long = tables.map(_._2.size.toLong).sum
  }

  private val Epoch = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def ts(epochSecond: Long): String =
    LocalDateTime.ofEpochSecond(epochSecond, 0, ZoneOffset.UTC).format(TsFmt)

  /** ISO creation time of the dump with sequence `seq`: one dump an hour. */
  def createdAt(seq: Long): String = Instant.ofEpochSecond(Epoch + seq * 3600L).toString

  private def rngFor(seed: Long, seq: Long, table: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L + seq * 7919L + table.hashCode.toLong)

  private val Zones = Array("America/Denver", "Europe/London", "Asia/Tokyo", "UTC")
  private val States = Array("registered", "pre_registered", "deleted")
  private val Methods = Array("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val Statuses = Array("200", "200", "200", "302", "404", "500")

  private def maybe(r: SplittableRandom, pNull: Double)(v: => String): String =
    if (r.nextDouble() < pNull) null else v

  private def hex(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => "0123456789abcdef".charAt(r.nextInt(16))).mkString

  /** `n` distinct keys: a share from `[1, space]` (updates) and the rest
    * past `space` (new keys minted by this dump). */
  private def keys(r: SplittableRandom, n: Int, space: Long, fresh: Long): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val k = if (fresh > 0 && r.nextDouble() < 0.3) space + 1 + r.nextLong(fresh)
              else 1 + r.nextLong(space)
      out += k
    }
    out.toSeq
  }

  private def rowsFor(t: Table, r: SplittableRandom, seq: Long, s: Sizes): Seq[Array[String]] = {
    val base = Epoch + seq * 3600L
    t match {
      case UserDim =>
        keys(r, s.users, s.userSpace, s.userSpace / 4).map { id =>
          Array(id.toString, (1000000L + id).toString, s"user_${hex(r, 8)}",
            maybe(r, 0.2)(Zones(r.nextInt(Zones.length))),
            ts(base - r.nextInt(86400 * 30)), States(r.nextInt(States.length)))
        }
      case SubmissionFact =>
        keys(r, s.submissions, s.submissionSpace, s.submissionSpace / 4).map { id =>
          Array(id.toString, (1 + r.nextLong(s.userSpace)).toString, (1 + r.nextInt(500)).toString,
            maybe(r, 0.1)((r.nextInt(10001) / 100.0).toString),
            maybe(r, 0.05)(ts(base - r.nextInt(3600))), (1 + r.nextInt(3)).toString)
        }
      case QuizDim =>
        keys(r, s.quizzes, s.quizzes * 2L, 0).map { id =>
          Array(id.toString, (1 + r.nextInt(200)).toString, s"quiz ${hex(r, 6)}",
            maybe(r, 0.1)((r.nextInt(2001) / 20.0).toString),
            maybe(r, 0.3)(ts(base - r.nextInt(86400 * 7))))
        }
      case ActivityFact =>
        (0 until s.activity).map { i =>
          Array((1 + r.nextInt(50)).toString, ts(base - 86400L * (i % 7)),
            r.nextInt(100000).toString, maybe(r, 0.15)(r.nextInt(5000).toString))
        }
      case Requests =>
        (0 until s.requests).map { _ =>
          Array(s"${hex(r, 8)}-${hex(r, 4)}-${hex(r, 4)}-${hex(r, 12)}",
            ts(base - r.nextInt(3600)), maybe(r, 0.05)((1 + r.nextLong(s.userSpace)).toString),
            maybe(r, 0.2)((1 + r.nextInt(200)).toString),
            s"/courses/${1 + r.nextInt(200)}/assignments/${1 + r.nextInt(500)}",
            Methods(r.nextInt(Methods.length)), Statuses(r.nextInt(Statuses.length)),
            maybe(r, 0.1)(s"Mozilla/5.0 (bench ${hex(r, 4)})"), r.nextInt(2000000).toString)
        }
      case other => throw new IllegalArgumentException(s"no generator for ${other.name}")
    }
  }

  def dump(seed: Long, seq: Long, tables: Seq[Table], sizes: Sizes): Dump =
    Dump(f"dump-$seed%d-$seq%05d", seq, createdAt(seq),
      tables.map(t => t -> rowsFor(t, rngFor(seed, seq, t.name), seq, sizes)))

  // --- serialization: the portal's JSON and gzipped TSV artifacts ---

  def tsvLine(row: Array[String]): String = row.map(v => if (v == null) "\\N" else v).mkString("\t")

  def schemaJson(tables: Seq[Table]): String = {
    val ts = tables.map { t =>
      val cols = t.cols.map(c => s"""{"name":"${c.name}","type":"${c.tpe}"}""").mkString(",")
      s""""${t.name}":{"dw_type":"${t.dwType}","incremental":${t.incremental},""" +
        s""""tableName":"${t.name}","columns":[$cols]}"""
    }
    s"""{"version":"$SchemaVersion","schema":{${ts.mkString(",")}}}"""
  }

  final case class Listed(id: String, seq: Long)

  def listingJson(dumps: Seq[Listed]): String = dumps.map { d =>
    val at = createdAt(d.seq)
    s"""{"dumpId":"${d.id}","sequence":${d.seq},"accountId":"self","numFiles":1,""" +
      s""""finished":true,"expires":0,"updatedAt":"$at","createdAt":"$at",""" +
      s""""schemaVersion":"$SchemaVersion"}"""
  }.mkString("[", ",", "]")

  def artifactName(d: Dump, t: Table): String = f"${t.name}-00000-${(d.id + t.name).hashCode}%08x.gz"

  /** Gzipped TSV; Java's gzip header carries no timestamp, so identical
    * rows give identical bytes. Returns the uncompressed byte count. */
  def writeGz(rows: Seq[Array[String]], dest: Path): Long = {
    Files.createDirectories(dest.getParent)
    var raw = 0L
    val out = new GZIPOutputStream(new BufferedOutputStream(Files.newOutputStream(dest), 1 << 16))
    val w = new OutputStreamWriter(out, UTF_8)
    try rows.foreach { row =>
      val line = tsvLine(row) + "\n"
      raw += line.getBytes(UTF_8).length
      w.write(line)
    } finally w.close()
    raw
  }
}
