package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.GoldenRunner

/** Pins the reference sqlness files brought green in the round-4
  * conformance push: within-aggregate ORDER BY (array_agg/string_agg),
  * DISTINCT ON, length-less VARCHAR casts, OFFSET-before-LIMIT, the TQL
  * parser tail (comma form, string literals, NaN/Inf, atan2) and
  * multi-field binary operators. Pins assert BOTH a minimum compared
  * count and zero statement-exception skips, so a regression that turns
  * comparisons into exceptions can't hide in the skip column. */
class GoldenRound4Spec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  private val CorpusDir = "/root/reference/tests/cases/standalone/common"

  private val MinCompared = Map(
    "aggregate/array_agg" -> 11,
    "aggregate/string_agg" -> 13,
    "aggregate/distinct" -> 9,
    "order/order_variable_size_payload" -> 17,
    "subquery/offset" -> 3,
    "window/latest_per_series" -> 5,
    "tql/binary_operator" -> 7,
    "tql/operator" -> 5,
    "tql/literal_only" -> 4,
    "tql/case_sensitive" -> 7)

  for ((file, min) <- MinCompared) {
    test(s"reference corpus $file.sql golden run") {
      val out = GoldenRunner.run(spark, s"$CorpusDir/$file.result")
      info(s"$file: ${out.compared} compared, ${out.skipped} skipped, ${out.errSkipped} errs")
      assert(out.problems.isEmpty, out.problems.mkString("\n\n"))
      assert(out.compared >= min, s"too few comparable statements in $file")
      assert(out.errSkipped == 0, s"statement exceptions crept back into $file")
    }
  }
}
