package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Wall-clock helpers and the small statistics the metrics need. */
object Timing {

  def seconds(body: => Any): Double = timed(body)._1

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val out = body
    ((System.nanoTime() - t0) / 1e9, out)
  }

  /** Median, the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile `q` of `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total bytes of the regular files under `root` whose name passes `keep`. */
  def treeBytes(root: Path, keep: String => Boolean): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && keep(p.getFileName.toString))
        .map(Files.size).sum
      finally st.close()
    }
}

/** Progress lines on stderr; stdout is kept for metrics. */
object Log {
  def phase[T](name: String)(body: => T): T = {
    val (s, out) = Timing.timed(body)
    System.err.println(f"[perfbench] $name%s: $s%.3f s")
    out
  }
}

/** What one workload run measured and checked. `requestWalls` are the
  * walls of each request (invocation or query) of the timed phase;
  * `totalS` is the wall of the timed phase. `stagedRows` gives, per
  * invocation, the rows the model says `JdbcSink` must write. */
final case class Outcome(
    workload: String,
    setupS: Double,
    requestWalls: Seq[Double],
    totalS: Double,
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    named: Seq[(String, Double, String)],
    perRequest: Map[String, Double] = Map.empty,
    stagedRows: Map[String, Long] = Map.empty)
