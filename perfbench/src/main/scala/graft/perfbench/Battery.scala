package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkEntry
import graft.tools.ResultHash
import org.apache.spark.sql.{GraftBridge, SparkSession}

/**
 * The query battery: a sweep of `SparkEntry.queries` in sorted order over
 * the committed fixture, each result materialized through the `noop` sink.
 * The session-shared fixpoints are paid inside the sweep by their first
 * consumer. An untimed pass afterwards hashes every result with
 * `ResultHash.hashOf` and compares it with the committed expected hashes.
 */
object Battery {

  /** Every `Stride`-th query in sorted order. A full sweep is stride 1. */
  val Stride = 36

  /** First consumers of the two session-shared fixpoints: the simhash
    * contraction (`Dedup.sharedClusterEdges`) and the decoded image
    * fingerprints (`Multimodal.dhashMetaShared`). Always swept, so their
    * cost is always measured. */
  val FixpointConsumers = Seq("q74_dup_clusters", "q128_image_dhash_histogram")

  /** The stride sample, plus the fixpoint consumers, plus the first query
    * of any analytics module the sample misses. */
  def selected(stride: Int): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val sample = all.indices.filter(_ % stride == 0).map(all)
    val missing = Layers.Modules.filterNot(m => sample.exists(q => Layers.ModuleOf.get(q).contains(m)))
      .flatMap(m => all.find(q => Layers.ModuleOf.get(q).contains(m)))
    (sample ++ FixpointConsumers ++ missing).distinct.sorted
  }

  def readExpected(path: Path): Map[String, String] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(path), UTF_8)) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case other => throw new IllegalArgumentException(s"expected hashes are not an object: $other")
    }
  }

  def writeExpected(path: Path, hashes: Seq[(String, String)]): Unit =
    Files.write(path, hashes.sortBy(_._1).map { case (q, h) => s"""  "$q": "$h"""" }
      .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))

  private def noop(spark: SparkSession, name: String, dir: String): Unit =
    try SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    finally GraftBridge.releaseTransientPins()

  /** A plan that touches neither the fixture nor a shared fixpoint: it
    * warms the scheduler, codegen and the noop sink, as `graft.Bench` does. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(0, 1000000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 97 as k", "id as v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
      .write.format("noop").mode("overwrite").save()

  /** One sweep, however long it takes: a second sweep would run with warm
    * code caches and measure something else. `record`: sweep every query
    * and write the hashes of this run instead of checking them, so the
    * expected file covers the whole battery. */
  def run(spark: SparkSession, fixture: String, expectedFile: Path, record: Boolean,
      trace: Tracer): Outcome = {
    val names = selected(if (record) 1 else Stride)
    val setup = Log.phase("query_battery warm-up")(Timing.seconds(warmUp(spark)))
    val errors = Seq.newBuilder[String]
    Layers.uncoveredQueries.foreach(q => errors += s"query $q has no module in Layers.ModuleOf")

    val fixpointWall = trace match {
      case _: SpanTracer => Timing.seconds {
        trace.request("fixpoint.shared_cluster_edges") {
          graft.analytics.Dedup.sharedClusterEdges(spark, fixture)._1
            .write.format("noop").mode("overwrite").save()
        }
        trace.request("fixpoint.dhash_meta_shared") {
          graft.analytics.Multimodal.dhashMetaShared(spark, fixture)
            .write.format("noop").mode("overwrite").save()
        }
      }
      case _ => 0.0
    }

    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val walls = names.map { q =>
      q -> trace.request(q) {
        Log.phase(q) {
          Timing.seconds {
            try noop(spark, q, fixture)
            catch { case scala.util.control.NonFatal(e) =>
              failed += q
              errors += s"$q failed: $e"
            }
          }
        }
      }
    }
    val wall = walls.map(_._2).sum

    // untimed correctness pass over the same session: hashes vs. expected
    val hashes = Log.phase("query_battery check")(names.map { q =>
      q -> (try ResultHash.hashOf(SparkEntry.queries(q)(spark, fixture))
            catch { case scala.util.control.NonFatal(e) => s"error: $e" }
            finally GraftBridge.releaseTransientPins())
    })
    val bad =
      if (record) {
        writeExpected(expectedFile, hashes)
        hashes.filter(_._2.startsWith("error"))
      } else {
        val expected = readExpected(expectedFile)
        hashes.filter { case (q, h) => !expected.get(q).contains(h) }
      }
    bad.foreach { case (q, h) =>
      failed += q
      errors += s"$q: result hash $h is not the expected one"
    }

    val w = walls.map(_._2)
    Outcome(
      workload = "query_battery",
      setupS = setup,
      requestWalls = w,
      totalS = wall + fixpointWall,
      attempted = names.size,
      failed = failed.size,
      errors = errors.result(),
      named = Seq(
        ("battery_wall_s", wall + fixpointWall, "s"),
        ("query_p50_s", Timing.median(w), "s"),
        ("query_p90_s", Timing.quantile(w, 0.9), "s"),
        ("queries", names.size.toDouble, "count")),
      perRequest = walls.toMap)
  }
}
