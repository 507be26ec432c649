package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.{GraftSession, InfoSchema}

/** The information_schema registry ([[InfoSchema]]): every table it
  * declares reads with its declared columns by qualified and by bare
  * name and DESCribes as declared, the listings name exactly its
  * tables, and no file under src/main but the registry names a view. */
class InfoSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  private def rowsOf(s: GraftSession, q: String): Seq[String] =
    s.sql(q).collect().map(_.toSeq.mkString("|")).toSeq

  test("every registry table reads, reads by bare name and DESCribes with its columns") {
    val s = new GraftSession(spark)
    s.sql("CREATE TABLE kt (ts TIMESTAMP(3) TIME INDEX, h STRING PRIMARY KEY, v DOUBLE)")
    // hand-derived anchors of the inventory (system/information_schema.result)
    assert(InfoSchema.tables.size == 39)
    assert(InfoSchema("tables").id == 3 && InfoSchema("tables").cols.size == 24)
    assert(InfoSchema("region_statistics").cols.map(_.name).take(7) == Seq("region_id",
      "table_id", "region_number", "region_rows", "written_bytes_since_open",
      "query_cpu_time_millis", "query_scanned_bytes"))

    def shape(q: String): Try[Seq[String]] = Try(s.sql(q).columns.toSeq)
    def check(what: String, got: Try[Seq[String]], want: Seq[String]): Option[String] =
      got match {
        case Success(cols) if cols == want => None
        case Success(cols) => Some(s"$what: ${cols.mkString(",")}")
        case Failure(e) => Some(s"$what: ${e.toString.linesIterator.next()}")
      }
    val qualified = InfoSchema.tables.flatMap { t =>
      val names = t.cols.map(_.name)
      val desc = t.cols.map(c => s"${c.name}|${c.gtype}|${if (c.nullable) "YES" else "NO"}")
      check(s"SELECT * ${t.name}",
        shape(s"SELECT * FROM information_schema.${t.name} LIMIT 0"), names) ++
        check(s"DESC ${t.name}", Try(s.sql(s"DESC information_schema.${t.name}").collect()
          .map(r => Seq(0, 1, 3).map(r.getString).mkString("|")).toSeq), desc)
    }
    s.sql("USE information_schema")
    val bare = InfoSchema.tables.flatMap(t =>
      check(s"bare ${t.name}", shape(s"SELECT * FROM ${t.name} LIMIT 0"), t.cols.map(_.name)))
    s.sql("USE public")
    val problems = qualified ++ bare
    assert(problems.isEmpty, problems.size + " mismatches:\n" + problems.mkString("\n"))

    val listed = InfoSchema.tables.map(t => s"${t.name}|${t.id}")
    assert(rowsOf(s, "SELECT table_name, table_id FROM information_schema.tables " +
      "WHERE table_schema = 'information_schema' ORDER BY table_name") == listed)
    assert(rowsOf(s, "SHOW TABLES FROM information_schema") == InfoSchema.tables.map(_.name))

    assert(rowsOf(s, "SELECT engine, support, transactions, xa, savepoints " +
      "FROM information_schema.engines ORDER BY engine") ==
      Seq("metric|YES|NO|NO|NO", "mito|DEFAULT|NO|NO|NO"))
    assert(rowsOf(s, "SELECT * FROM information_schema.table_constraints " +
      "WHERE table_name = 'kt' ORDER BY constraint_name") == Seq(
      "def|public|PRIMARY|public|kt|PRIMARY KEY|YES",
      "def|public|TIME INDEX|public|kt|TIME INDEX|YES"))
  }

  test("no file under src/main but InfoSchema.scala names an information_schema view") {
    val prefix = "__" + "info_"
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"no src/main/scala under ${main.toAbsolutePath}")
    val walk = Files.walk(main)
    val offenders =
      try walk.iterator.asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString != "InfoSchema.scala" &&
          new String(Files.readAllBytes(p), UTF_8).contains(prefix)
      }.toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"information_schema views are named by InfoSchema only: ${offenders.mkString(", ")}")
  }
}
