package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Catalog, MergeMode, TableSpec}
import graft.sources.Copy
import graft.sources.Copy.Options

class CopySpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)
  import spark.implicits._

  private def data = Seq(
    (1L, "a", 1.5, "2024-01-01 00:00:00"),
    (2L, "b,with,commas", -2.25, "2024-01-02 12:30:00"),
    (3L, null.asInstanceOf[String], 0.0, "2024-01-03 23:59:59")
  ).toDF("id", "s", "v", "t").withColumn("t", to_timestamp($"t"))

  private def tmp(p: String) = Files.createTempDirectory(p).toString + "/out"

  for (fmt <- Seq("parquet", "orc", "csv", "json")) {
    test(s"roundtrip $fmt preserves rows") {
      val dir = tmp(s"copy_$fmt")
      Copy.tableTo(data, dir, Options(format = fmt))
      val back = Copy.tableFrom(spark, dir, Options(format = fmt),
        schema = Some(data.schema))
      val a = data.orderBy($"id").collect().map(_.toSeq).toSeq
      val b = back.orderBy($"id").collect().map(_.toSeq).toSeq
      assert(a == b, s"format $fmt")
    }
  }

  test("csv with custom delimiter and quoted separator content") {
    val dir = tmp("copy_csv_delim")
    Copy.tableTo(data, dir, Options(format = "csv", delimiter = "|"))
    val back = Copy.tableFrom(spark, dir,
      Options(format = "csv", delimiter = "|"), Some(data.schema))
    assert(back.filter($"id" === 2).head().getString(1) == "b,with,commas")
  }

  test("pattern glob filters COPY FROM inputs") {
    val dir = tmp("copy_glob")
    data.filter($"id" <= 2).write.json(dir + "/a")
    data.filter($"id" === 3).write.json(dir + "/b")
    // only files under the dir matching *.json are read
    val all = Copy.tableFrom(spark, dir + "/*", Options(format = "json",
      pattern = Some("*.json")), Some(data.schema))
    assert(all.count() == 3)
  }

  test("COPY DATABASE roundtrip via catalog") {
    val srcDir = tmp("copy_db_src").stripSuffix("/out")
    data.write.parquet(srcDir + "/t1")
    data.filter($"id" === 1).write.parquet(srcDir + "/t2")
    val cat = new Catalog(spark)
    cat.register(TableSpec("t1", srcDir + "/t1", timeIndex = "t"))
    cat.register(TableSpec("t2", srcDir + "/t2", timeIndex = "t"))
    val outDir = tmp("copy_db_out").stripSuffix("/out")
    Copy.databaseTo(cat, outDir, Options(format = "json"))
    val back = Copy.databaseFrom(spark, outDir, Options(format = "json"))
    assert(back.keySet == Set("t1", "t2"))
    assert(back("t1").count() == 3 && back("t2").count() == 1)
  }
}
