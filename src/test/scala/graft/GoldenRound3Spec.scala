package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.GoldenRunner

/** Pins the reference sqlness files brought green in the third
  * conformance push (TQL CTEs, approx aggregates, anomaly windows,
  * pg_catalog/info-schema emulation, scheduled flows, identifier
  * edge cases) so regressions surface in `sbt test`, not the sweep. */
class GoldenRound3Spec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  private val CorpusDir = "/root/reference/tests/cases/standalone/common"

  private val MinCompared = Map(
    "tql/tql-cte" -> 17,
    "expr/atat" -> 23,
    "function/matches_term" -> 46,
    "function/anomaly" -> 11,
    "function/date" -> 22,
    "aggregate/approx_percentile_cont" -> 16,
    "aggregate/approx_percentile_cont_with_weight" -> 11,
    "aggregate/approx_median" -> 11,
    "system/timezone" -> 29,
    "system/pg_catalog" -> 20,
    "system/semantic_graph" -> 5,
    "system/starrocks_compatibility" -> 12,
    "system/information_schema" -> 33,
    "flow/flow_tql_avg" -> 7,
    "flow/flow_scheduled_late_overlap" -> 1,
    "flow/flow_pending" -> 3,
    "promql/string_identifier" -> 4,
    "promql/set_operation" -> 40,
    "range/interval" -> 5,
    "range/nest" -> 4,
    "prepare/mysql_prepare" -> 6,
    "select/multi_column_ref" -> 4)

  for ((file, min) <- MinCompared) {
    test(s"reference corpus $file.sql golden run") {
      val out = GoldenRunner.run(spark, s"$CorpusDir/$file.result")
      info(s"$file: ${out.compared} compared, ${out.skipped} skipped")
      assert(out.problems.isEmpty, out.problems.mkString("\n\n"))
      assert(out.compared >= min, s"too few comparable statements in $file")
    }
  }
}
