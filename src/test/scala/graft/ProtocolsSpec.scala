package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{OtlpMetrics, Protocols, PromRemoteWrite, ProtoWire}

class ProtocolsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)
  import spark.implicits._

  test("influx line protocol: tags, typed fields, escapes, timestamps") {
    val lines = Seq(
      """cpu,host=web\ 01,region=us usage=0.64,count=3i,ok=t,note="a, b" 1465839830100400200""",
      """mem,host=db used=55.5""", // no timestamp -> default
      """# comment""",
      """garbage"""
    ).toDF("line")
    val out = Protocols.fromInfluxLines(lines, "line", defaultTsNs = 42L)
      .orderBy($"measurement").collect()
    assert(out.length == 2)
    val cpu = out(0)
    assert(cpu.getString(0) == "cpu")
    assert(cpu.getMap[String, String](1) == Map("host" -> "web 01", "region" -> "us"))
    assert(cpu.getMap[String, Double](2) == Map("usage" -> 0.64, "count" -> 3.0))
    assert(cpu.getMap[String, String](3) == Map("note" -> "a, b"))
    assert(cpu.getMap[String, Boolean](4) == Map("ok" -> true))
    assert(cpu.getLong(5) == 1465839830100400200L)
    assert(out(1).getLong(5) == 42L)
  }

  test("opentsdb put lines") {
    val lines = Seq(
      "put sys.cpu.user 1356998400 42.5 host=web01 cpu=0",
      "put sys.cpu.user 1356998400500 43.0 host=web02",
      "not a put line"
    ).toDF("line")
    val out = Protocols.fromOpenTsdbLines(lines, "line").orderBy($"ts_ns").collect()
    assert(out.length == 2)
    assert(out(0).getLong(5) == 1356998400000000000L) // seconds heuristic
    assert(out(1).getLong(5) == 1356998400500000000L) // ms heuristic
    assert(out(0).getMap[String, String](1) == Map("host" -> "web01", "cpu" -> "0"))
  }

  test("pivot to wide measurement table") {
    val lines = Seq(
      "cpu,host=a usage=1.0,sys=0.5 100",
      "cpu,host=b usage=2.0 200",
      "mem,host=a used=9.0 100"
    ).toDF("line")
    val samples = Protocols.fromInfluxLines(lines, "line")
    val wide = Protocols.pivotMeasurement(samples, "cpu").orderBy($"ts")
    assert(wide.columns.toSeq == Seq("host", "sys", "usage", "ts"))
    val rows = wide.collect()
    assert(rows(0).getString(0) == "a" && rows(0).getDouble(2) == 1.0)
    assert(rows(1).getString(0) == "b" && rows(1).isNullAt(1)) // missing field -> null
  }

  test("influxPivoted: sampled discovery, strict unknown-key failure, empty-sample fallback") {
    import org.apache.spark.sql.functions.col
    // single partition: the 2-row sample determines the schema
    val lines = Seq(
      "cpu,host=a usage=1.0 100",
      "cpu,host=b usage=2.0 200",
      "cpu,host=c usage=3.0,extra=9.0 300" // key outside the sample
    ).toDF("line").coalesce(1)
    // exhaustive discovery sees `extra`
    val full = Protocols.influxPivoted(lines, "line", "cpu",
      discoverySampleRows = 0)
    assert(full.columns.toSeq == Seq("host", "extra", "usage", "ts"))
    assert(full.count() == 3)
    // sampled discovery (2 rows) misses `extra` → loud failure, not a
    // silently dropped value
    val strict = Protocols.influxPivoted(lines, "line", "cpu",
      discoverySampleRows = 2)
    val e = intercept[Exception](strict.count())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("outside the sampled schema")), msgs(e))
    // homogeneous keys: sampled path is correct
    val homo = Protocols.influxPivoted(
      Seq("cpu,host=a usage=1.0 100", "cpu,host=b usage=2.0 200")
        .toDF("line").coalesce(1),
      "line", "cpu", discoverySampleRows = 1)
    assert(homo.orderBy(col("ts")).collect().map(_.getString(0)).toSeq ==
      Seq("a", "b"))
    // measurement absent from the sample → automatic full discovery
    val late = Protocols.influxPivoted(
      (Seq.fill(5)("cpu,host=a usage=1.0 100") :+
        "mem,host=z used=9.0 500").toDF("line").coalesce(1),
      "line", "mem", discoverySampleRows = 2)
    assert(late.columns.toSeq == Seq("host", "used", "ts"))
    assert(late.count() == 1)
  }

  test("protobuf wire codec round-trips varint/fixed64/strings/packed") {
    val w = new ProtoWire.Writer
    w.int(1, 300L).int(2, Long.MaxValue).double(3, -2.5)
      .string(4, "héllo").packedFixed64(5, Seq(1L, 2L, 3L)).packedDouble(6, Seq(0.5, 10.0))
    val r = new ProtoWire.Reader(w.result())
    assert(r.readTag() == ((1, 0)) && r.readVarint() == 300L)
    assert(r.readTag() == ((2, 0)) && r.readVarint() == Long.MaxValue)
    assert(r.readTag() == ((3, 1)) && r.readDouble() == -2.5)
    assert(r.readTag() == ((4, 2)) && r.readString() == "héllo")
    assert(r.readTag() == ((5, 2)) && r.packedFixed64() == Seq(1L, 2L, 3L))
    assert(r.readTag() == ((6, 2)) && r.packedDouble() == Seq(0.5, 10.0))
    assert(!r.hasNext)
  }

  test("prometheus remote-write: snappy WriteRequest round-trip") {
    val in = Seq(
      PromRemoteWrite.Series(
        Map("__name__" -> "cpu_usage", "host" -> "web01", "region" -> "eu"),
        Seq(1000L -> 0.5, 2000L -> 0.75)),
      PromRemoteWrite.Series(Map("__name__" -> "mem_used", "host" -> "db"), Seq(1500L -> 42.0)))
    val body = PromRemoteWrite.compress(PromRemoteWrite.encodeWriteRequest(in))
    val out = PromRemoteWrite.parseWriteRequest(body)
    assert(out == in)

    val df = spark.createDataset(Seq(body)).toDF("body")
    val rows = PromRemoteWrite.fromPayloads(df, "body").orderBy($"metric", $"ts_ms").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "cpu_usage")
    assert(rows(0).getMap[String, String](1) == Map("host" -> "web01", "region" -> "eu"))
    assert(rows(0).getLong(2) == 1000L && rows(0).getDouble(3) == 0.5)
    assert(rows(2).getString(0) == "mem_used" && rows(2).getDouble(3) == 42.0)
  }

  test("otlp metrics: gauge/sum data points round-trip, ns->ms") {
    val pts = Seq(
      OtlpMetrics.DataPoint(Map("host" -> "a"), 1465839830100400200L, 1.5),
      OtlpMetrics.DataPoint(Map("host" -> "b"), 2000000000L, -3.0))
    val body = OtlpMetrics.encodeRequest(Seq(
      OtlpMetrics.Metric("cpu", "gauge", points = pts),
      OtlpMetrics.Metric("reqs", "sum", points = Seq(OtlpMetrics.DataPoint(Map.empty, 3000000L, 7.0)))))
    val rows = OtlpMetrics.toRows(OtlpMetrics.parseRequest(body))
    assert(rows == Seq(
      OtlpMetrics.SampleRow("cpu", Map("host" -> "a"), 1465839830100L, 1.5),
      OtlpMetrics.SampleRow("cpu", Map("host" -> "b"), 2000L, -3.0),
      OtlpMetrics.SampleRow("reqs", Map.empty, 3L, 7.0)))
  }

  test("otlp histogram: cumulative le buckets + _sum/_count tables (metrics.rs:600-717)") {
    val h = OtlpMetrics.HistPoint(Map("svc" -> "api"), 5000000L, count = 6L, sum = Some(21.5),
      bucketCounts = Seq(1L, 2L, 3L), bounds = Seq(0.5, 2.5))
    val body = OtlpMetrics.encodeRequest(Seq(OtlpMetrics.Metric("lat", "histogram", hist = Seq(h))))
    val rows = OtlpMetrics.toRows(OtlpMetrics.parseRequest(body))
    assert(rows == Seq(
      OtlpMetrics.SampleRow("lat_bucket", Map("svc" -> "api", "le" -> "0.5"), 5L, 1.0),
      OtlpMetrics.SampleRow("lat_bucket", Map("svc" -> "api", "le" -> "2.5"), 5L, 3.0),
      OtlpMetrics.SampleRow("lat_bucket", Map("svc" -> "api", "le" -> "inf"), 5L, 6.0),
      OtlpMetrics.SampleRow("lat_sum", Map("svc" -> "api"), 5L, 21.5),
      OtlpMetrics.SampleRow("lat_count", Map("svc" -> "api"), 5L, 6.0)))
    // integral bound prints like Rust Display ("2" not "2.0")
    assert(OtlpMetrics.f64Tag(2.0) == "2" && OtlpMetrics.f64Tag(0.5) == "0.5"
      && OtlpMetrics.f64Tag(Double.PositiveInfinity) == "inf")
  }
}
