package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.perfbench.CanvasGen._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark itself: determinism of its inputs, its model of
  * the loader's end state, and the agreement of its metric catalog and
  * attribution tables with BENCHMARK.json and the loader's sources. */
class PerfbenchSpec extends AnyFunSuite {

  private val repo = Paths.get("..").toAbsolutePath.normalize

  private def tempDir(prefix: String): Path = {
    val base = Paths.get("target", "test-work").toAbsolutePath
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix)
  }

  private def files(root: Path): Map[String, Seq[Byte]] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally st.close()
  }

  private def publishAll(root: Path, seed: Long): Unit = {
    val portal = new Portal(root)
    portal.publishSchema(AllTables)
    val sizes = IngestWorkloads.HourlySizes.copy(requests = 50)
    val dumps = (1L to 3L).map(s => dump(seed, s, AllTables, sizes))
    dumps.foreach(portal.publish)
    portal.list(dumps.map(d => Listed(d.id, d.seq)))
  }

  test("the same seed gives byte-identical artifacts; another seed does not") {
    val (a, b, c) = (tempDir("a"), tempDir("b"), tempDir("c"))
    publishAll(a, 7)
    publishAll(b, 7)
    publishAll(c, 8)
    val fa = files(a)
    assert(fa.keySet.exists(_.endsWith(".gz")))
    assert(fa == files(b))
    assert(fa.filter(_._1.endsWith(".gz")).values.toSet
      .intersect(files(c).filter(_._1.endsWith(".gz")).values.toSet).isEmpty)
  }

  test("keys are unique within every generated dump") {
    val d = dump(3, 5, AllTables, IngestWorkloads.BackfillSizes.copy(requests = 1000))
    d.tables.foreach { case (t, rows) =>
      t.key.filterNot(_ => t.volatile).foreach { k =>
        val i = t.cols.indexWhere(_.name == k)
        assert(rows.map(_(i)).distinct.size == rows.size, s"duplicate ${t.name}.$k")
      }
    }
  }

  // The two-dump scenario of the loader's IngestMainSpec: user_dim keeps
  // the latest row per id across dumps, the volatile quiz_dim keeps only
  // the last dump's rows.
  private val users = Table("user_dim", "dimension", incremental = true,
    Seq(Col("id", "bigint"), Col("name", "varchar")))
  private val quizzes = Table("quiz_dim", "dimension", incremental = false,
    Seq(Col("id", "bigint"), Col("title", "text")))
  private val twoDumps = Seq(
    Dump("dump1", 1, createdAt(1), Seq(
      users -> Seq(Array("1", "alice"), Array("2", "bob")),
      quizzes -> Seq(Array("10", "first quiz")))),
    Dump("dump2", 2, createdAt(2), Seq(
      users -> Seq(Array("2", "bobby"), Array("3", "carol")),
      quizzes -> Seq(Array("11", "second quiz")))))

  test("the expected-state model agrees with IngestMainSpec's two-dump scenario") {
    val model = new ExpectedState
    twoDumps.reverse.foreach(model(_)) // application order must not matter
    assert(Canon.modelRows(users, model.rows("user_dim")) ==
      Seq("1\talice", "2\tbobby", "3\tcarol"))
    assert(Canon.modelRows(quizzes, model.rows("quiz_dim")) == Seq("11\tsecond quiz"))
  }

  test("the loader's warehouse and Derby tables match the model after the two dumps") {
    val root = tempDir("site")
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .getOrCreate()
    try {
      val site = new IngestWorkloads.Site(spark, root, "perfbench_spec")
      site.portal.publishSchema(Seq(users, quizzes))
      twoDumps.foreach(site.publish)
      site.run(Tracer.Off, "spec")
      assert(site.check().isEmpty)
      // a wrong model is caught in both stores
      site.model(Dump("dump3", 3, createdAt(3), Seq(users -> Seq(Array("4", "dave")))))
      assert(site.check().map(_.takeWhile(_ != ' ')).toSet == Set("warehouse", "jdbc"))
    } finally spark.stop()
  }

  test("every metric's name and unit match BENCHMARK.json") {
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(repo.resolve("BENCHMARK.json")), "UTF-8"))
    def specs(key: String): Seq[(String, String)] = (json \ key) match {
      case JArray(items) => items.map(i => ((i \ "name").values.toString, (i \ "unit").values.toString))
      case other => fail(s"$key is not a list: $other")
    }
    assert(specs("end_to_end") == Metrics.EndToEnd.map(s => (s.name, s.unit)))
    assert(specs("per_layer") == Metrics.PerLayer.map(s => (s.name, s.unit)))
    val workloads = (json \ "workloads") match {
      case JArray(items) => items.map(i => (i \ "name").values.toString)
      case other => fail(s"workloads is not a list: $other")
    }
    assert(workloads.forall(Main.Workloads.contains))
  }

  test("the attribution tables cover every loader file and every query") {
    assert(Layers.uncoveredFiles(repo.resolve("src/main/scala/graft")).isEmpty)
    assert(Layers.uncoveredQueries.isEmpty)
    assert(Layers.ModuleOf.keySet == graft.SparkEntry.queries.keySet)
    assert(Layers.ofCallSite("collect at IngestState.scala:56").contains("state"))
    assert(Layers.ofCallSite("count at IngestWorkloads.scala:9").isEmpty)
  }

  test("the committed expected hashes cover every query, and the sweep keeps its fixpoint consumers") {
    val expected = Battery.readExpected(Paths.get("fixture", "expected_hashes.json"))
    assert(expected.keySet == graft.SparkEntry.queries.keySet)
    val sweep = Battery.selected(Battery.Stride)
    assert(Battery.FixpointConsumers.forall(sweep.contains))
    assert(Layers.Modules.forall(m => sweep.exists(q => Layers.ModuleOf(q) == m)))
    assert(sweep == sweep.sorted)
  }
}
