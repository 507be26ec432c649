package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.StageMeter

/** The one session builder and the one stage meter: the session's
  * fixed settings, the meter's per-body scoping, and a guard that keeps
  * hand-built sessions from coming back. */
class LocalSessionSpec extends AnyFunSuite {

  lazy val spark = LocalSession(4)

  test("the session runs four local cores in UTC and reads ns parquet timestamps as BIGINT") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.defaultParallelism === 4)
  }

  test("StageMeter counts only its own body: a shuffle, then none") {
    val shuffled = StageMeter.measure(spark)(
      spark.range(0, 10000, 1, 4).repartition(4)
        .groupBy((col("id") % 7).as("k")).count().collect())
    assert(shuffled.result.length === 7)
    assert(shuffled.shuffleWriteBytes > 0)
    assert(shuffled.shuffleWriteRecords > 0)
    assert(shuffled.jobs >= 1 && shuffled.stages >= 2)

    val plain = StageMeter.measure(spark)(
      spark.range(0, 1000, 1, 2).filter(col("id") % 100 === 0).collect())
    assert(plain.result.length === 10)
    assert(plain.shuffleWriteBytes === 0L)
    assert(plain.shuffleWriteRecords === 0L)
    assert(plain.jobs >= 1)
  }

  test("no file under src/ but LocalSession.scala builds a SparkSession") {
    val builder = "SparkSession" + ".builder"
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"no src/ under ${src.toAbsolutePath.getParent}")
    val walk = Files.walk(src)
    val offenders =
      try walk.iterator.asScala.filter { (p: Path) =>
        Files.isRegularFile(p) && p.getFileName.toString != "LocalSession.scala" &&
          new String(Files.readAllBytes(p), UTF_8).contains(builder)
      }.toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"build sessions with graft.LocalSession, not $builder: ${offenders.mkString(", ")}")
  }
}
