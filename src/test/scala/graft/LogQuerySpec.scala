package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.logquery.LogQuery._

class LogQuerySpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)
  import spark.implicits._

  private def logs = Seq(
    (1000L, "ERROR disk full on /dev/sda", "web-1", """{"code": 5}"""),
    (2000L, "error: timeout connecting", "web-2", """{"code": 7}"""),
    (3000L, "INFO all good", "web-1", """{"code": 0}"""),
    (90000000L, "ERROR disk full again", "db-1", """{"code": 5}""")
  ).toDF("ts", "message", "host", "attrs")

  test("time filter canonicalization") {
    assert(TimeFilter(Some("2024")).canonicalize() ==
      (1704067200000L, 1735689600000L))
    assert(TimeFilter(Some("2024-12-01")).canonicalize() ==
      (1733011200000L, 1733097600000L))
    assert(TimeFilter(Some("2024-12-01T00:00:00Z"), None, Some("2h")).canonicalize() ==
      (1733011200000L, 1733018400000L))
    assert(TimeFilter(None, Some("2024-12-01T01:00:00"), Some("30m")).canonicalize() ==
      (1733013000000L, 1733014800000L))
    assert(TimeFilter(None, None, Some("1 week")).canonicalize(nowMs = 7L * 86400000L)
      == (0L, 7L * 86400000L))
  }

  test("content filters: prefix/contains/regex/between on columns") {
    val q = Query(
      timeFilter = Some(TimeFilter(Some("1970-01-01"), Some("1970-01-02"))),
      filters = Some(And(Seq(
        Or(Seq(Cond("message", Seq(Prefix("ERROR"))),
               Cond("message", Seq(Contains("error"))))),
        Cond("host", Seq(RegexMatch("web-\\d+")))))),
      columns = Seq("ts", "host"))
    val out = plan(logs, "ts", q).collect().map(_.getLong(0)).toSet
    assert(out == Set(1000L, 2000L))
  }

  test("decompose json + aggregation + limit") {
    val q = Query(
      exprs = Seq(
        Decompose(NamedIdent("attrs"), "json", Seq("code" -> "long")),
        FilterExpr(Cond("code", Seq(GreatThan("0")))),
        AggrFunc(Seq(AggFunc("count", Seq(NamedIdent("code")), Some("n"))),
          by = Seq(NamedIdent("host")))),
      limit = Limit(fetch = Some(10), skip = None))
    val out = plan(logs, "ts", q).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("web-1" -> 1L, "web-2" -> 1L, "db-1" -> 1L))
  }

  test("context: adjacent lines and seconds around matches") {
    val byLines = Query(
      filters = Some(Cond("message", Seq(Prefix("INFO")))),
      context = Lines(1, 1), columns = Seq("ts"))
    // INFO row is ts=3000 (3rd by time); ±1 line -> 2000, 3000, 90000000
    assert(plan(logs, "ts", byLines).collect().map(_.getLong(0)).toSet ==
      Set(2000L, 3000L, 90000000L))
    val bySeconds = Query(
      filters = Some(Cond("message", Seq(Prefix("INFO")))),
      context = Seconds(2, 1), columns = Seq("ts"))
    // match at 3s; [1s, 4s] -> 1000, 2000, 3000
    assert(plan(logs, "ts", bySeconds).collect().map(_.getLong(0)).toSet ==
      Set(1000L, 2000L, 3000L))
  }

  test("scalar funcs, binary ops, positional idents, offset") {
    val q = Query(
      exprs = Seq(
        AliasExpr(ScalarFunc("upper", Seq(PositionalIdent(2))), "HOST"),
        AliasExpr(BinaryOp(NamedIdent("ts"), "*", Literal("2")), "ts2")),
      columns = Seq("HOST", "ts2"),
      limit = Limit(skip = Some(1), fetch = Some(2)))
    val out = plan(logs.orderBy($"ts"), "ts", q).collect()
    assert(out.length == 2)
    assert(out(0).getString(0) == "WEB-2")
    assert(out(0).getLong(1) == 4000L)
  }
}
