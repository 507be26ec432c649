package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.GoldenRunner

/** Pins the corpus files brought to zero-exception green in the round-4
  * continuation session: the whole flow dir tail (info-schema flows
  * surface, ALTERed sinks, uddsketch NULL calc, f64 division), the
  * function-dir tail (anomaly interval frames, IPv6 totalization, vec_*
  * SQL aggregates, MySQL ELT/MID/IF edge cases, admin SELECT forms),
  * typed JSON casts in both dialects, integer-overflow wrapping,
  * chained `::` casts, keywords-as-identifiers, SHOW TABLE STATUS /
  * COLUMNS / statistics introspection, interval comparisons, the
  * RANGE-in-CTE form, metric-region row retention, and the PromQL
  * offset/subquery/histogram tails. Each pin gates a minimum compared
  * count and zero statement exceptions. */
class GoldenRound4cSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  private val Common = "/root/reference/tests/cases/standalone/common"

  private val MinCompared = Map(
    s"$Common/flow/flow_aft_alter.result" -> 3,
    s"$Common/flow/flow_basic.result" -> 88,
    s"$Common/flow/flow_call_df_func.result" -> 24,
    s"$Common/flow/flow_incremental_aggr.result" -> 7,
    s"$Common/flow/flow_step_aggr.result" -> 10,
    s"$Common/flow/flow_status.result" -> 4,
    s"$Common/flow/flow_view.result" -> 4,
    s"$Common/function/anomaly.result" -> 12,
    s"$Common/function/expression.result" -> 26,
    s"$Common/function/function_alias.result" -> 6,
    s"$Common/function/ip.result" -> 11,
    s"$Common/function/time.result" -> 4,
    s"$Common/function/admin/flush_compact_table.result" -> 8,
    s"$Common/function/json/json_get.result" -> 38,
    s"$Common/function/string/mysql_compat.result" -> 40,
    s"$Common/function/vector/vector.result" -> 48,
    s"$Common/overflow/integer_overflow.result" -> 12,
    s"$Common/types/decimal/decimal_cast.result" -> 19,
    s"$Common/types/interval/interval.result" -> 34,
    s"$Common/types/json/json2_cast.result" -> 16,
    s"$Common/types/timestamp/timestamp_types.result" -> 37,
    s"$Common/types/timestamp/timestamp_tz.result" -> 4,
    s"$Common/types/timestamp/timestamp_limits.result" -> 1,
    s"$Common/keywords/keywords_expressions.result" -> 5,
    s"$Common/show/show_databases_tables.result" -> 9,
    s"$Common/show/show_columns.result" -> 5,
    s"$Common/show/show_index.result" -> 7,
    s"$Common/join/inequality_joins.result" -> 5,
    s"$Common/cte/cte.result" -> 12,
    s"$Common/view/create.result" -> 10,
    s"$Common/view/view.result" -> 6,
    s"$Common/promql/offset.result" -> 9,
    s"$Common/promql/offset_direction.result" -> 3,
    s"$Common/promql/simple_histogram.result" -> 23,
    s"$Common/promql/encode_substrait.result" -> 1,
    s"$Common/range/fill.result" -> 15,
    s"$Common/setops/basic_setops.result" -> 15,
    s"$Common/alter/change_col_type.result" -> 5,
    s"$Common/insert/logical_metric_table.result" -> 13,
    s"$Common/types/json/jsonbench.result" -> 9)

  for ((file, min) <- MinCompared) {
    val short = file.stripPrefix(Common + "/").stripSuffix(".result")
    test(s"reference corpus $short.sql golden run") {
      val out = GoldenRunner.run(spark, file)
      info(s"$short: ${out.compared} compared, ${out.skipped} skipped, ${out.errSkipped} errs")
      assert(out.problems.isEmpty, out.problems.mkString("\n\n"))
      assert(out.compared >= min, s"too few comparable statements in $short")
      assert(out.errSkipped == 0, s"statement exceptions crept back into $short")
    }
  }
}
