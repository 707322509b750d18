package graft.perfbench

import java.sql.Timestamp
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.perfbench.CanvasGen.{Dump, Table}
import org.apache.spark.sql.SparkSession

/**
 * Independent model of the loader's end state, written from the load
 * semantics rather than from the loader's code: an incremental table holds
 * the row of the highest dump sequence per key; a volatile table (listed,
 * or without an inferable key) holds exactly the rows of the last dump
 * that carried it.
 */
final class ExpectedState {

  private val defs = mutable.Map.empty[String, Table]
  private val incremental = mutable.Map.empty[String, mutable.Map[String, (Long, Array[String])]]
  private val volatile = mutable.Map.empty[String, (Long, Seq[Array[String]])]

  def apply(d: Dump): Unit = d.tables.foreach { case (t, rows) =>
    defs(t.name) = t
    t.key match {
      case Some(k) if !t.volatile =>
        val ki = t.cols.indexWhere(_.name == k)
        val m = incremental.getOrElseUpdate(t.name, mutable.Map.empty)
        rows.foreach { r =>
          if (m.get(r(ki)).forall(_._1 <= d.seq)) m(r(ki)) = (d.seq, r)
        }
      case _ =>
        if (volatile.get(t.name).forall(_._1 <= d.seq)) volatile(t.name) = (d.seq, rows)
    }
  }

  /** Every table some applied dump carried, by name. */
  def tables: Seq[Table] = defs.values.toSeq.sortBy(_.name)

  def rows(table: String): Seq[Array[String]] =
    incremental.get(table).map(_.values.map(_._2).toSeq)
      .orElse(volatile.get(table).map(_._2))
      .getOrElse(Seq.empty)

  def row(table: String, key: String): Option[Array[String]] =
    incremental.get(table).flatMap(_.get(key)).map(_._2)
}

/** Canonical cell spelling shared by the model and both stores, so a
  * row compares equal however each side decodes it. */
object Canon {
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def fromTsv(tpe: String, v: String): String =
    if (v == null) "\\N"
    else tpe match {
      case "bigint" | "int" | "integer" => v.toLong.toString
      case "double precision"           => java.lang.Double.toString(v.toDouble)
      case _                            => v
    }

  def fromStore(v: Any): String = v match {
    case null         => "\\N"
    case t: Timestamp => t.toLocalDateTime.format(TsFmt)
    case c: java.sql.Clob => c.getSubString(1, c.length.toInt)
    case d: java.lang.Double => java.lang.Double.toString(d)
    case n: java.lang.Number => n.longValue().toString
    case other        => other.toString
  }

  def modelRows(t: Table, rows: Seq[Array[String]]): Seq[String] =
    rows.map(r => t.cols.indices.map(i => fromTsv(t.cols(i).tpe, r(i))).mkString("\t")).sorted
}

/** Compares the warehouse and the JDBC database with the model. */
object StateCheck {

  /** Rows of `t` as the warehouse serves them. */
  def warehouseRows(spark: SparkSession, warehouse: String, t: Table): Seq[String] = {
    val path = s"$warehouse/${t.name}"
    val df =
      if (t.volatile) spark.read.parquet(path)
      else graft.ingest.BucketedMerge.read(spark, path)
    df.select(t.cols.map(c => org.apache.spark.sql.functions.col(c.name)): _*)
      .collect().map(r => (0 until r.length).map(i => Canon.fromStore(r.get(i))).mkString("\t"))
      .toSeq.sorted
  }

  def jdbcRows(url: String, t: Table): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val cols = t.cols.map(c => "\"" + c.name + "\"").mkString(", ")
      val rs = conn.createStatement().executeQuery(s"""SELECT $cols FROM "${t.name}"""")
      val out = mutable.ArrayBuffer.empty[String]
      while (rs.next())
        out += (1 to t.cols.size).map(i => Canon.fromStore(rs.getObject(i))).mkString("\t")
      out.toSeq.sorted
    } finally conn.close()
  }

  /** One message per table whose rows differ from the model. */
  def diff(store: String, t: Table, expected: Seq[String], actual: Seq[String]): Option[String] =
    if (expected == actual) None
    else {
      val missing = expected.diff(actual)
      val extra = actual.diff(expected)
      Some(s"$store ${t.name}: ${expected.size} expected rows, ${actual.size} found; " +
        s"${missing.size} missing (first: ${missing.headOption.getOrElse("-")}), " +
        s"${extra.size} unexpected (first: ${extra.headOption.getOrElse("-")})")
    }

  def check(spark: SparkSession, model: ExpectedState, warehouse: String,
      jdbcUrl: Option[String]): Seq[String] =
    model.tables.flatMap { t =>
      val expected = Canon.modelRows(t, model.rows(t.name))
      diff("warehouse", t, expected, warehouseRows(spark, warehouse, t)).toSeq ++
        jdbcUrl.flatMap(u => diff("jdbc", t, expected, jdbcRows(u, t))).toSeq
    }
}
