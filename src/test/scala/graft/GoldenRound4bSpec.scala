package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.GoldenRunner

/** Pins the corpus roots beyond `standalone/common` brought green in the
  * round-4 continuation — the standalone copy/create/limit/flow-tql/
  * information_schema dirs, the distributed-only files (3-datanode
  * cluster_info, ssts_limit node spread, repartition, admin flush), the
  * top-level common files the directory walk used to skip (COMMENT ON,
  * MySQL session vars, skip-WAL restart semantics, partitions catalog),
  * and local_file_access (CREATE EXTERNAL TABLE + COPY path traversal
  * guard). Each pin gates a minimum compared count and zero statement
  * exceptions. */
class GoldenRound4bSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  private val Cases = "/root/reference/tests/cases"

  private val MinCompared = Map(
    s"$Cases/standalone/common/basic.result" -> 12,
    s"$Cases/standalone/common/comment.result" -> 12,
    s"$Cases/standalone/common/mysql.result" -> 10,
    s"$Cases/standalone/common/partition.result" -> 10,
    s"$Cases/standalone/common/skip_wal.result" -> 7,
    s"$Cases/standalone/copy/copy_from_csv_compressed.result" -> 10,
    s"$Cases/standalone/copy/copy_database_from_fs_parquet.result" -> 7,
    s"$Cases/standalone/create/recover_created.result" -> 2,
    s"$Cases/standalone/limit/limit.result" -> 3,
    s"$Cases/standalone/information_schema/cluster_info.result" -> 7,
    s"$Cases/standalone/local_file_access.result" -> 1,
    s"$Cases/distributed/information_schema/cluster_info.result" -> 8,
    s"$Cases/distributed/information_schema/ssts_limit.result" -> 4,
    s"$Cases/distributed/repartition/repartition.result" -> 10,
    s"$Cases/distributed/function/admin/flush_compact_region.result" -> 2)

  for ((file, min) <- MinCompared) {
    val short = file.stripPrefix(Cases + "/").stripSuffix(".result")
    test(s"reference corpus $short.sql golden run") {
      val out = GoldenRunner.run(spark, file)
      info(s"$short: ${out.compared} compared, ${out.skipped} skipped, ${out.errSkipped} errs")
      assert(out.problems.isEmpty, out.problems.mkString("\n\n"))
      assert(out.compared >= min, s"too few comparable statements in $short")
      assert(out.errSkipped == 0, s"statement exceptions crept back into $short")
    }
  }
}
