package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.GoldenRunner

/** Golden-corpus runner over the reference's RANGE sqlness files —
  * see graft.tools.GoldenRunner for the comparison contract. */
class GoldenRangeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  private val CorpusDir = "/root/reference/tests/cases/standalone/common/range"

  private val MinCompared =
    Map("fill" -> 10, "by" -> 5, "calculate" -> 4, "precisions" -> 1,
      "special_aggr" -> 5)

  for ((file, min) <- MinCompared) {
    test(s"reference corpus range/$file.sql golden run") {
      val out = GoldenRunner.run(spark, s"$CorpusDir/$file.result")
      info(s"$file: ${out.compared} compared, ${out.skipped} skipped (unsupported dialect)")
      assert(out.problems.isEmpty, out.problems.mkString("\n\n"))
      assert(out.compared >= min, s"too few comparable statements in $file")
    }
  }
}
