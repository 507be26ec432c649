package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextAnalysis

/** Pins the r10 single-pass stats UDF ([[TextAnalysis.textStats]])
  * field-for-field against the original per-stat Column formulations —
  * on adversarial edge cases AND the real sf0.001 corpus. The
  * text_stats oracle re-pins the same values cross-engine. */
class TextAnalysisSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)
  import spark.implicits._

  private def compare(df: org.apache.spark.sql.DataFrame): Unit = {
    val st = TextAnalysis.textStats(col("text"))
    val both = df.select(col("text"),
      st.getField("n_tokens").as("a1"),
      st.getField("n_subwords").as("a2"),
      round(st.getField("punct_ratio"), 6).as("a3"),
      round(st.getField("stopword_ratio"), 6).as("a4"),
      round(st.getField("mean_word_len"), 6).as("a5"),
      TextAnalysis.tokenCount(col("text")).as("b1"),
      TextAnalysis.subwordCount(col("text")).as("b2"),
      round(TextAnalysis.punctRatio(col("text")), 6).as("b3"),
      round(TextAnalysis.stopwordRatio(col("text")), 6).as("b4"),
      round(TextAnalysis.meanWordLength(col("text")), 6).as("b5"))
    val bad = both.filter(
      !(col("a1") <=> col("b1")) || !(col("a2") <=> col("b2")) ||
        !(col("a3") <=> col("b3")) || !(col("a4") <=> col("b4")) ||
        !(col("a5") <=> col("b5")))
    val rows = bad.collect()
    assert(rows.isEmpty, s"single-pass stats diverge on: ${rows.take(3).mkString("; ")}")
  }

  test("single-pass stats equal the per-stat Column forms on edge cases") {
    val edge = Seq(
      "the quick brown fox, jumps! over...",
      "",
      " ",
      "\tleading tab",
      "trailing tab\t",
      "a  b   c",
      "ALL CAPS WITH THE AND OF",
      "punct!!! ??? ;;; ::",
      "1234 5678 90",
      "café naïve über straße",
      "日本語 テスト 漢字",
      "mixed éè and ascii, with. punct;",
      "supercalifragilisticexpialidocious antidisestablishmentarianism",
      "a\nb\rcd\fe",
      "🎉 emoji 😀 test",
      "THE the The tHe",
      null
    ).toDF("text")
    compare(edge)
  }

  test("single-pass stats equal the Column forms on the sf0.001 corpus") {
    compare(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")))
  }
}
