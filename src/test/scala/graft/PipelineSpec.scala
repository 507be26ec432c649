package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Processors._

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)
  import spark.implicits._

  test("dissect: basic fields + literals") {
    val df = Seq("1.2.3.4 - - [10/Oct/2000] \"GET /a.png\" 200").toDF("line")
    val out = Dissect("line", "%{ip} - - [%{ts}] \"%{method} %{path}\" %{status}")(df)
      .select("ip", "ts", "method", "path", "status").head()
    assert(out.toSeq == Seq("1.2.3.4", "10/Oct/2000", "GET", "/a.png", "200"))
  }

  test("dissect: append, skip and padding modifiers") {
    val df = Seq("john jacob   smith").toDF("line")
    val out = Dissect("line", "%{+name} %{?skip->} %{+name}", appendSeparator = "_")(df)
      .select("name").head().getString(0)
    assert(out == "john_smith")
    val nomatch = Dissect("line", "%{a}=%{b}")(df).select("a").head()
    assert(nomatch.isNullAt(0))
  }

  test("date + epoch parse") {
    val df = Seq(("2024-01-02 03:04:05", "1704164645000")).toDF("d", "e")
    val out = Pipeline(Seq(
      DateParse("d", Seq("yyyy-MM-dd HH:mm:ss")),
      Epoch("e", "ms"))).run(df)
      .select(unix_millis($"d"), unix_millis($"e")).head()
    assert(out.getLong(0) == 1704164645000L)
    assert(out.getLong(1) == 1704164645000L)
  }

  test("gsub, letter, join, decolorize") {
    val df = Seq((
      "a-b-c",
      "hello world",
      Seq("x", "y", "z"),
      "[31mred[0m plain"
    )).toDF("g", "l", "j", "c")
    val out = Pipeline(Seq(
      Gsub("g", "-", "."),
      Letter("l", "capital"),
      JoinArr("j", "/"),
      Decolorize("c"))).run(df).head()
    assert(out.getString(0) == "a.b.c")
    assert(out.getString(1) == "Hello World")
    assert(out.getString(2) == "x/y/z")
    assert(out.getString(3) == "red plain")
  }

  test("regex named groups, digest presets") {
    val df = Seq("user=alice id=42 from 10.0.0.1 said \"hi there\"").toDF("m")
    val out = Pipeline(Seq(
      RegexExtract("m", "user=(?<user>\\w+) id=(?<id>\\d+)"),
      Digest("m", Seq("ip", "quoted", "numbers")))).run(df).head()
    assert(out.getAs[String]("m_user") == "alice")
    assert(out.getAs[String]("m_id") == "42")
    assert(out.getAs[String]("m_digest") == "user=alice id= from  said ")
  }

  test("csv quote-aware parse") {
    val df = Seq("a,\"b,with,commas\",c").toDF("line")
    val out = CsvParse("line", Seq("f1", "f2", "f3"))(df)
      .select("f1", "f2", "f3").head()
    assert(out.toSeq == Seq("a", "b,with,commas", "c"))
  }

  test("json parse + path, cmcd, urlencoding") {
    val df = Seq((
      """{"a": "1", "b": "x"}""",
      """br=3200,bs,ot=v,sid="abc-123"""",
      "a%20b%2Fc"
    )).toDF("j", "cm", "u")
    val out = Pipeline(Seq(
      JsonPath("j", "b", "j_b"),
      JsonParse("j"),
      Cmcd("cm", Seq("br", "bs", "sid")),
      UrlEncoding("u", "decode"))).run(df).head()
    assert(out.getAs[String]("j_b") == "x")
    assert(out.getAs[Map[String, String]]("j")("a") == "1")
    // typed per-key resolution (cmcd.rs): br integer, bs boolean-presence
    assert(out.getAs[Long]("cm_br") == 3200L)
    assert(out.getAs[Boolean]("cm_bs"))
    assert(out.getAs[String]("cm_sid") == "abc-123")
    assert(out.getAs[String]("u") == "a b/c")
  }

  test("vrl: one-to-many expansion — pipeline.rs test_one_to_many_with_vrl") {
    // reference pipeline/tests/pipeline.rs:1010-1100: del + map_values
    // expands a 3-event list into 3 rows carrying the parent request_id
    val src = """
        |events = del(.events)
        |request_id = del(.request_id)
        |map_values(array!(events)) -> |event| {
        |    {
        |        "request_id": request_id,
        |        "event_type": event.type,
        |        "event_value": event.value
        |    }
        |}
        |""".stripMargin
    val df = Seq(
      """{"request_id":"req-123","events":[{"type":"click","value":100},{"type":"scroll","value":200},{"type":"submit","value":300}]}"""
    ).toDF("j")
    val out = Pipeline(Seq(Vrl("j", src))).run(df)
      .select(
        get_json_object(col("j"), "$.request_id").as("rid"),
        get_json_object(col("j"), "$.event_type").as("et"),
        get_json_object(col("j"), "$.event_value").cast("long").as("ev"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(
      ("req-123", "click", 100L),
      ("req-123", "scroll", 200L),
      ("req-123", "submit", 300L)))
  }

  test("vrl: single object unchanged + assignment — pipeline.rs backward-compat case") {
    val out = Pipeline(Seq(Vrl("j", ".processed = true\n.")))
      .run(Seq("""{"name":"Alice","age":30}""").toDF("j"))
      .select(
        get_json_object(col("j"), "$.name"),
        get_json_object(col("j"), "$.age").cast("int"),
        get_json_object(col("j"), "$.processed").cast("boolean"))
      .head()
    assert(out.getString(0) == "Alice" && out.getInt(1) == 30 && out.getBoolean(2))
  }

  test("vrl: non-object array elements error; empty array yields zero rows") {
    // pipeline.rs test_one_to_many_array_element_validation
    val bad = Pipeline(Seq(Vrl("j", ".items")))
      .run(Seq("""{"items":["string",123,true]}""").toDF("j"))
    val err = intercept[Exception](bad.collect())
    assert(err.getMessage.contains("must be an object") ||
      Option(err.getCause).exists(_.getMessage.contains("must be an object")))
    // pipeline.rs test_one_to_many_empty_array
    val empty = Pipeline(Seq(Vrl("j", ".events")))
      .run(Seq("""{"events":[]}""").toDF("j"))
    assert(empty.count() == 0)
  }

  test("vrl: scalar helpers, merge, closure over object, compile-time rejection") {
    val src = """
        |.tag = upcase(string!(.tag)) + "-" + to_string(.n * 2)
        |.flag = exists(.missing) == false
        |.obj = merge({"a": 1}, {"b": 2})
        |.
        |""".stripMargin
    val out = Pipeline(Seq(Vrl("j", src)))
      .run(Seq("""{"tag":"api","n":21}""").toDF("j"))
      .select(
        get_json_object(col("j"), "$.tag"),
        get_json_object(col("j"), "$.flag").cast("boolean"),
        get_json_object(col("j"), "$.obj.a").cast("int"),
        get_json_object(col("j"), "$.obj.b").cast("int"))
      .head()
    assert(out.getString(0) == "API-42" && out.getBoolean(1))
    assert(out.getInt(2) == 1 && out.getInt(3) == 2)
    // unsupported constructs are compile-time errors, not silent no-ops
    val e = intercept[IllegalArgumentException](
      graft.pipeline.MiniVrl.compile(""". |> parse_grok!(.message, "%{IP}")"""))
    assert(e.getMessage.contains("vrl"))
  }

  test("vrl: every VRL program embedded in the reference repo compiles and runs") {
    import graft.pipeline.MiniVrl
    // the reference's own vrl test programs (pipeline/src/etl.rs,
    // pipeline/tests/pipeline.rs, etl/processor/vrl_processor.rs)
    val programs = Seq(
      "events = del(.events)\nbase_host = del(.host)\nbase_ts = del(.timestamp)\n" +
        "map_values(array!(events)) -> |event| {\n    {\n        \"host\": base_host,\n" +
        "        \"event_type\": event.type,\n        \"event_value\": event.value,\n" +
        "        \"timestamp\": base_ts\n    }\n}",
      ".processed = true\n.",
      ".events",
      ".items",
      ".name.a = .user_info.name\n.name.b = .user_info.name\ndel(.user_info)\n.timestamp = now()\n.")
    for (p <- programs) {
      val prog = MiniVrl.compile(p)
      val rows = MiniVrl.runToRows(prog,
        """{"events":[{"type":"a","value":1}],"host":"h","timestamp":9,
           "name":"n","user_info":{"name":"u"},"items":[{"x":1}],
           "processed":false}""")
      assert(rows.nonEmpty, p)
    }
    // nested path assignment + del leave the right shape
    val shaped = MiniVrl.runToRows(MiniVrl.compile(
      ".name.a = .user_info.name\ndel(.user_info)\n."),
      """{"user_info":{"name":"u"},"keep":1}""").head
    assert(shaped.contains(""""name":{"a":"u"}""") && !shaped.contains("user_info"))
  }

  test("vrl tokenizer: '!=' without a space is an inequality; bang merges only before '('") {
    import graft.pipeline.MiniVrl
    // `a!= 1` must not tokenize as ident `a!` + `=` (an assignment-like form)
    val rows = MiniVrl.runToRows(MiniVrl.compile(
      "a = del(.n)\n.ne = a!= 1\n.eq = a== 2\n."),
      """{"n":2}""").head
    assert(rows.contains(""""ne":true""") && rows.contains(""""eq":true"""), rows)
    // a bang-call still merges: array!(...) is one identifier
    val bang = MiniVrl.runToRows(MiniVrl.compile(
      "map_values(array!(.xs)) -> |e| { {\"v\": e.v} }"),
      """{"xs":[{"v":7}]}""")
    assert(bang == Seq("""{"v":7}"""))
  }

  test("vrl: multi-statement closure body doesn't swallow the next statement") {
    import graft.pipeline.MiniVrl
    // newlines inside `{ }` are statement separators: the closure's last
    // expression must not postfix-chain onto the following `.done = true`
    val rows = MiniVrl.runToRows(MiniVrl.compile(
      """rid = del(.rid)
        |out = map_values(array!(.events)) -> |e| {
        |    v = e.value
        |    {"rid": rid, "v": v}
        |}
        |out
        |""".stripMargin),
      """{"rid":"r1","events":[{"value":5},{"value":6}]}""")
    assert(rows == Seq("""{"rid":"r1","v":5}""", """{"rid":"r1","v":6}"""), rows)
  }

  test("cmcd: absent bs/su keys yield NULL, not false (cmcd.rs bs_su)") {
    val df = Seq("br=3200,ot=v").toDF("cm")
    val out = Cmcd("cm", Seq("br", "bs", "su"))(df).head()
    assert(out.getAs[Long]("cm_br") == 3200L)
    assert(out.isNullAt(out.fieldIndex("cm_bs")))
    assert(out.isNullAt(out.fieldIndex("cm_su")))
  }

  test("dispatcher routes by field value; table_suffix names per-row shards") {
    val df = Seq(
      ("""{"type":"http","status":200}""", "http"),
      ("""{"type":"db","status":1}""", "db"),
      ("""{"type":"other","status":9}""", "other")).toDF("j", "type")
    val d = Dispatcher("type", Seq(
      DispatchRule("http", "_http",
        Some(Pipeline(Seq(JsonPath("j", "status", "code"))))),
      DispatchRule("db", "_db")))
    val routes = d.route(df).map { case (sfx, r) => sfx -> r.collect() }
    assert(routes.map(_._1) == Seq("_http", "_db"))
    assert(routes.head._2.length == 1 &&
      routes.head._2.head.getAs[String]("code") == "200")
    assert(routes(1)._2.length == 1)
    assert(d.remainder(df).collect().map(_.getString(1)).toSeq == Seq("other"))
    // table_suffix: VRL expression names the shard per row
    val suffixed = Pipeline(Seq(TableSuffix("j", """ "_" + string!(.type) """)))
      .run(df).select(col("type"), col("__table_suffix")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(suffixed == Map("http" -> "_http", "db" -> "_db", "other" -> "_other"))
  }

  test("select + filter") {
    val df = Seq(("a", "keep", 1), ("b", "DEBUG", 2), ("c", "info", 3))
      .toDF("x", "level", "n")
    val out = Pipeline(Seq(
      Filter("level", Seq("debug")),
      Select(Seq("x", "level")))).run(df)
    assert(out.columns.toSeq == Seq("x", "level"))
    assert(out.collect().map(_.getString(0)).toSet == Set("a", "c"))
  }
}
