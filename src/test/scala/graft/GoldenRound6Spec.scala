package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.GoldenRunner

/** Pins the reference sqlness files round 6 touched or nearly
  * regressed: promql/scalar (NULL-valued samples must keep their
  * series PRESENT as zero-count groups — a selector-side null filter
  * broke exactly this mid-round before the sweep caught it),
  * range/special_aggr + range/calculate (first/last_value and
  * percentile WITHIN GROUP — the aggregates the new FoldAgg routing
  * switches to the per-series fold at high fan-out; these files pin
  * the low-fan-out explode results stay byte-identical), and
  * aggregate/approx_percentile_cont. Asserts a minimum compared count
  * and zero exception skips per file. */
class GoldenRound6Spec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  private val CorpusDir = "/root/reference/tests/cases/standalone/common"

  private val MinCompared = Map(
    "promql/scalar" -> 40,
    "range/special_aggr" -> 12,
    "range/calculate" -> 11,
    "aggregate/approx_percentile_cont" -> 5)

  for ((file, min) <- MinCompared) {
    test(s"reference corpus $file.sql golden run") {
      val out = GoldenRunner.run(spark, s"$CorpusDir/$file.result")
      assert(out.problems.isEmpty, out.problems.take(3).mkString("\n"))
      assert(out.errSkipped == 0,
        s"statement exceptions: ${out.errSkipped}")
      assert(out.compared >= min,
        s"compared ${out.compared} < $min — statements vanished")
    }
  }
}
