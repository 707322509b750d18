package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import graft.api.Transport

/**
 * The hosted-data portal as a directory: each API path and each artifact
 * URL is a file under `root`, so the loader's `ApiClient` runs unchanged
 * over a local-file [[Transport]]. The workload publishes a dump by writing
 * its artifacts and file listing, and re-lists by rewriting one file.
 */
final class Portal(val root: Path) {
  import Portal._

  private def write(rel: String, body: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(UTF_8))
  }

  def publishSchema(tables: Seq[CanvasGen.Table]): Unit =
    write("api/schema/latest", CanvasGen.schemaJson(tables))

  def list(dumps: Seq[CanvasGen.Listed]): Unit =
    write("api/account/self/dump", CanvasGen.listingJson(dumps))

  /** Write a dump's artifacts and its `/file/byDump` listing. Returns the
    * uncompressed TSV bytes of the dump. */
  def publish(d: CanvasGen.Dump): Long = {
    var raw = 0L
    val arts = d.tables.map { case (t, rows) =>
      val name = CanvasGen.artifactName(d, t)
      raw += CanvasGen.writeGz(rows, root.resolve(s"files/${d.id}/$name"))
      s""""${t.name}":{"tableName":"${t.name}","partial":false,""" +
        s""""files":[{"url":"$Base/files/${d.id}/$name","filename":"$name"}]}"""
    }
    write(s"api/account/self/file/byDump/${d.id}",
      s"""{"accountId":"self","dumpId":"${d.id}","sequence":${d.seq},""" +
        s""""schemaVersion":"${CanvasGen.SchemaVersion}","numFiles":${d.tables.size},""" +
        s""""finished":true,"expires":0,"createdAt":"${d.createdAt}",""" +
        s""""updatedAt":"${d.createdAt}","artifactsByTable":{${arts.mkString(",")}}}""")
    raw
  }

  /** Serves GETs and downloads from the files under `root`. */
  val transport: Transport = new Transport {
    private def local(url: String): Path = {
      require(url.startsWith(Base), s"unexpected url $url")
      root.resolve(url.stripPrefix(Base).stripPrefix("/").takeWhile(_ != '?'))
    }
    override def get(url: String, headers: Map[String, String]): Array[Byte] =
      Files.readAllBytes(local(url))
    override def download(url: String, headers: Map[String, String], dest: Path): Unit =
      Files.copy(local(url), dest, StandardCopyOption.REPLACE_EXISTING)
  }
}

object Portal {
  val Base = "https://portal.local"
}
