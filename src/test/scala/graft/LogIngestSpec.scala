package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.LogIngest

class LogIngestSpec extends AnyFunSuite {
  private lazy val spark = LocalSession(4)

  test("loki push: labels, ts, line, structured metadata; bad items dropped") {
    import spark.implicits._
    val payload =
      """{"streams":[
        |{"stream":{"service":"api","env":"prod"},
        | "values":[["1700000000000000000","hello",{"trace":"t1"}],
        |           ["not-a-ts","dropped"],
        |           ["1700000000000000001","plain"]]},
        |{"stream":{},"values":[["2","empty-labels"]]}
        |]}""".stripMargin
    val rows = LogIngest.fromLokiPush(Seq(payload, "{garbage", """{"streams":{}}""").toDF("body"), "body")
      .collect().map(r => (r.getAs[Map[String, String]]("labels"), r.getAs[Long]("ts_ns"),
        r.getAs[String]("line"), r.getAs[String]("structured_metadata")))
    assert(rows.length === 3)
    assert(rows(0) === (Map("service" -> "api", "env" -> "prod"), 1700000000000000000L, "hello", """{"trace":"t1"}"""))
    assert(rows(1) === (Map("service" -> "api", "env" -> "prod"), 1700000000000000001L, "plain", null))
    assert(rows(2)._1 === Map.empty[String, String])
  }

  test("es bulk: create/index commands, url index fallback, msg_field") {
    import spark.implicits._
    val payload =
      """{"create":{"_index":"t1"}}
        |{"a":1}
        |{"index":{"_index":"t2","_id":"9"}}
        |{"b":2}
        |{"create":{}}
        |{"c":3}
        |{"delete":{"_index":"t1"}}
        |{"ignored":true}""".stripMargin
    val rows = LogIngest.fromEsBulk(Seq(payload).toDF("body"), "body",
      indexFromUrl = Some("urltab")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq === Seq(("t1", """{"a":1}"""), ("t2", """{"b":2}"""), ("urltab", """{"c":3}""")))

    val msg = """{"create":{"_index":"m"}}
                |{"message":"{\"k\":5}","other":1}
                |{"create":{"_index":"m"}}
                |{"message":"plain text"}""".stripMargin
    val narrowed = LogIngest.fromEsBulk(Seq(msg).toDF("body"), "body",
      msgField = Some("message")).collect().map(_.getString(1))
    assert(narrowed.toSeq === Seq("""{"k":5}""", """{"message":"plain text"}"""))
  }

  test("splunk hec /event: batching forms, validation codes, row mapping") {
    import spark.implicits._
    // concatenated objects with no separator + a top-level array payload
    val concat =
      """{"time":1700000000,"index":"main","host":"h1","event":"a","extra":7}""" +
        """{"event":"b"}""" +
        """{"event":" ","index":"x"}""" + // code 13: blank event -> dropped
        """{"index":"x"}""" + // code 12: missing event -> dropped
        """{"event":"c","time":"nope"}""" // code 6: bad time -> dropped
    val arr = """[{"time":1700000000.5,"event":{"k":1},"fields":{"dc":"eu"},"sourcetype":"st"}]"""
    val rows = LogIngest.fromSplunkHec(Seq(concat, arr).toDF("body"), "body",
        queryTable = Some("qtab"), defaultTsMs = 42L)
      .collect().map(r => (r.getAs[String]("table"), r.getAs[Long]("ts_ms"),
        r.getAs[Map[String, String]]("tags"), r.getAs[String]("event"), r.getAs[String]("extras")))
    assert(rows.length === 3)
    assert(rows(0) === ("main", 1700000000000L, Map("host" -> "h1"), "a", """{"extra":7}"""))
    assert(rows(1) === ("qtab", 42L, Map.empty[String, String], "b", "{}"))
    // fractional seconds floor to millis; object event kept as JSON; fields+sourcetype are tags
    assert(rows(2) === ("qtab", 1700000000500L,
      Map("dc" -> "eu", "sourcetype" -> "st"), """{"k":1}""", "{}"))
  }

  test("splunk hec index sanitization mirrors splunk.rs table-name rules") {
    import spark.implicits._
    val payload =
      """{"event":"a","index":"ok_name:x-y.z@#"}""" +
        """{"event":"b","index":"bad name!"}""" +
        """{"event":"c","index":"9starts_digit"}""" +
        """{"event":"d","index":"   "}"""
    val tabs = LogIngest.fromSplunkHec(Seq(payload).toDF("body"), "body")
      .collect().map(_.getAs[String]("table"))
    assert(tabs.toSeq === Seq("ok_name:x-y.z@#", "bad_name_", "_9starts_digit", "splunk_logs"))
  }

  test("splunk hec /raw: whole-body event vs linebreaker split, request metadata") {
    import spark.implicits._
    val whole = LogIngest.fromSplunkRaw(Seq("line1\nline2").toDF("b"), "b",
        metadata = Map("host" -> "h", "ignored" -> "x"), tsMs = 5L)
      .collect().map(r => (r.getAs[Long]("ts_ms"), r.getAs[String]("message"),
        r.getAs[Map[String, String]]("tags")))
    assert(whole.toSeq === Seq((5L, "line1\nline2", Map("host" -> "h"))))

    val split = LogIngest.fromSplunkRaw(Seq("a|| ||b||").toDF("b"), "b",
        linebreaker = Some("||")).collect().map(_.getAs[String]("message"))
    assert(split.toSeq === Seq("a", "b"))
    assert(LogIngest.fromSplunkRaw(Seq("  ").toDF("b"), "b").count() === 0)
  }
}
