package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{OtlpLogs, OtlpTrace}
import graft.trace.Jaeger

/** OTLP traces/logs decode semantics pinned against the reference
  * (`servers/src/otlp/trace/span.rs`, `servers/src/otlp/logs.rs`,
  * `frontend/src/instance/jaeger.rs`). */
class OtlpSignalsSpec extends AnyFunSuite {
  private lazy val spark = LocalSession(4)

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  test("trace: ids, kind/status names, events/links json, duration") {
    val req = OtlpTrace.encodeRequest(Seq(OtlpTrace.ResourceSpansIn(
      resourceAttrs = Seq("service.name" -> "checkout", "region" -> "eu"),
      scopes = Seq(OtlpTrace.ScopeSpansIn("lib", "0.3", Seq("sk" -> "sv"), Seq(
        OtlpTrace.SpanIn(
          traceId = b(0xab, 0xcd), spanId = b(0x01), parentSpanId = b(0x02),
          name = "GET /x", kind = 2, startNano = 1700000000000000000L,
          endNano = 1700000000000123456L,
          attrs = Seq("http.status" -> "200"),
          events = Seq(OtlpTrace.EventIn("ev1", 1700000000500000000L, Seq("k" -> "v"))),
          links = Seq(OtlpTrace.LinkIn(b(0x0a), b(0x0b), "st=1", Seq("lk" -> "lv"))),
          statusCode = 2, statusMessage = "boom", traceState = "x=y"),
        OtlpTrace.SpanIn(
          traceId = b(0xab), spanId = b(0x03), parentSpanId = Array.emptyByteArray,
          name = "root", kind = 99, startNano = 5L, endNano = 9L)))))))
    val rows = OtlpTrace.parseRequest(req)
    assert(rows.length === 2)
    val r = rows.head
    assert(r.service_name === "checkout")
    assert((r.trace_id, r.span_id, r.parent_span_id) === ("abcd", "01", "02"))
    assert((r.span_kind, r.span_status_code, r.span_status_message) ===
      ("SPAN_KIND_SERVER", "STATUS_CODE_ERROR", "boom"))
    assert((r.trace_state, r.scope_name, r.scope_version) === ("x=y", "lib", "0.3"))
    assert(r.duration_nano === 123456L)
    assert(r.resource_attributes === Map("service.name" -> "checkout", "region" -> "eu"))
    assert(r.scope_attributes === Map("sk" -> "sv"))
    assert(r.span_attributes === Map("http.status" -> "200"))
    // event time renders chrono-style: shortest of 3/6/9 fractional digits
    assert(r.span_events ===
      """[{"name":"ev1","time":"2023-11-14 22:13:20.500+0000","attributes":{"k":"v"}}]""")
    assert(r.span_links ===
      """[{"trace_id":"0a","span_id":"0b","trace_state":"st=1","attributes":{"lk":"lv"}}]""")
    val r2 = rows(1)
    // unknown kind falls back to the default enum variant; absent status -> ("","")
    assert(r2.span_kind === "SPAN_KIND_UNSPECIFIED")
    assert((r2.span_status_code, r2.span_status_message) === ("", ""))
    assert(r2.parent_span_id === null)
    assert(r2.span_events === "[]" && r2.span_links === "[]")
  }

  test("iso time fraction: none / millis / micros / nanos") {
    assert(OtlpTrace.isoNano(0L) === "1970-01-01 00:00:00+0000")
    assert(OtlpTrace.isoNano(1000000L) === "1970-01-01 00:00:00.001+0000")
    assert(OtlpTrace.isoNano(1001000L) === "1970-01-01 00:00:00.001001+0000")
    assert(OtlpTrace.isoNano(1L) === "1970-01-01 00:00:00.000000001+0000")
  }

  test("logs: ts fallback, body, jsonb sorted keys, flags") {
    val req = OtlpLogs.encodeRequest(Seq(OtlpLogs.ResourceLogsIn(
      resourceAttrs = Seq("z" -> "last", "a" -> "first"), schemaUrl = "res://u",
      scopes = Seq(OtlpLogs.ScopeLogsIn("sc", "1", Seq("b" -> "2"), "sc://u", Seq(
        OtlpLogs.LogIn(tsNano = 7L, severityNumber = 9, severityText = "INFO",
          body = Some("hello"), attrs = Seq("y" -> "1", "x" -> "0"), flags = 1L,
          traceId = b(0xff), spanId = b(0x10)),
        OtlpLogs.LogIn(tsNano = 0L, observedNano = 42L)))))))
    val rows = OtlpLogs.parseRequest(req)
    assert(rows.length === 2)
    val r = rows.head
    assert((r.ts_ns, r.severity_number, r.severity_text, r.body) === (7L, 9, "INFO", "hello"))
    assert((r.trace_id, r.span_id, r.trace_flags) === ("ff", "10", 1L))
    // jsonb objects are BTreeMaps: keys come out sorted
    assert(r.log_attributes === """{"x":"0","y":"1"}""")
    assert(r.resource_attributes === """{"a":"first","z":"last"}""")
    assert((r.scope_name, r.scope_version, r.scope_attributes) === ("sc", "1", """{"b":"2"}"""))
    assert((r.scope_schema_url, r.resource_schema_url) === ("sc://u", "res://u"))
    // time_unix_nano == 0 falls back to observed_time_unix_nano (logs.rs:410)
    assert(rows(1).ts_ns === 42L)
    assert(rows(1).body === null)
  }

  test("jaeger: services/operations/find_traces over a span frame") {
    import spark.implicits._
    val req = OtlpTrace.encodeRequest(Seq(
      OtlpTrace.ResourceSpansIn(Seq("service.name" -> "api"),
        Seq(OtlpTrace.ScopeSpansIn("s", "1", Nil, Seq(
          OtlpTrace.SpanIn(b(1), b(1), Array.emptyByteArray, "login", 2, 100L, 300L,
            attrs = Seq("env" -> "prod"), statusCode = 2),
          OtlpTrace.SpanIn(b(1), b(2), b(1), "db", 3, 150L, 250L),
          OtlpTrace.SpanIn(b(2), b(3), Array.emptyByteArray, "login", 2, 400L, 500L))))),
      OtlpTrace.ResourceSpansIn(Seq("service.name" -> "worker"),
        Seq(OtlpTrace.ScopeSpansIn("s", "1", Nil, Seq(
          OtlpTrace.SpanIn(b(3), b(4), Array.emptyByteArray, "job", 5, 10L, 20L)))))))
    val spans = OtlpTrace.fromPayloads(Seq(req).toDF("body"), "body").cache()

    assert(Jaeger.getServices(spans).as[String].collect().toSeq === Seq("api", "worker"))
    val ops = Jaeger.getOperations(spans, "api").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(ops.toSeq === Seq(("db", "client"), ("login", "server")))
    // error:true tag targets span_status_code (jaeger.rs:633-635); all spans
    // of the matched trace come back, including the non-matching child
    val t = Jaeger.findTraces(spans, Jaeger.TraceQuery("api", tags = Map("error" -> "true")))
    assert(t.select("span_id").as[String].collect().toSeq === Seq("02", "01"))
    val byDur = Jaeger.findTraces(spans, Jaeger.TraceQuery("api", minDurationNs = Some(150L)))
    assert(byDur.select("trace_id").distinct().as[String].collect().toSeq === Seq("01"))
  }
}
