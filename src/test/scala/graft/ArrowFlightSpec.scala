package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.ingest.ArrowFlight

class ArrowFlightSpec extends AnyFunSuite {
  private lazy val spark = LocalSession(4)

  private val schema = StructType(Seq(
    StructField("host", StringType),
    StructField("ts", TimestampType),
    StructField("cpu", DoubleType),
    StructField("cores", LongType),
    StructField("up", BooleanType)))

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  test("DoPut payload round-trips rows through protobuf + IPC framing") {
    val rows = Seq(
      Seq[Any]("a", ts(1700000000000L), 0.5, 8L, true),
      Seq[Any]("b", ts(1700000000123L), null, 16L, false),
      Seq[Any](null, ts(1700000001000L), 2.25, null, null))
    val payload = ArrowFlight.encodePayload(schema, rows, batchRows = 2) // 2 batches
    val got = ArrowFlight.decodePayload(payload, schema).toSeq
    assert(got.size === 3)
    assert(got(0).getString(0) === "a" && got(0).getDouble(2) === 0.5 && got(0).getBoolean(4))
    assert(got(1).isNullAt(2) && got(1).getLong(3) === 16L)
    assert(got(2).isNullAt(0) && got(2).getDouble(2) === 2.25 && got(2).isNullAt(3))
    assert(got(1).getTimestamp(1).getTime === 1700000000123L)
  }

  test("frames survive protobuf encode/decode and gRPC framing individually") {
    val payload = ArrowFlight.encodePayload(schema, Seq(Seq[Any]("x", ts(0L), 1.0, 1L, true)))
    val messages = ArrowFlight.grpcUnframe(payload)
    assert(messages.size === 2) // schema frame + one batch frame
    val frames = messages.map(ArrowFlight.decodeFrame)
    assert(frames.head.header.nonEmpty && frames.head.body.isEmpty) // schema has no body
    assert(frames(1).header.nonEmpty && frames(1).body.nonEmpty)
    // re-encode → same payload
    assert(ArrowFlight.grpcFrame(frames.map(ArrowFlight.encodeFrame)).sameElements(payload))
  }

  test("distributed fromPayloads decodes executor-side") {
    import spark.implicits._
    val payloads = (0 until 4).map { p =>
      ArrowFlight.encodePayload(schema,
        (0 until 100).map(i => Seq[Any](s"h$p", ts(1700000000000L + i), i.toDouble, i.toLong, i % 2 == 0)))
    }
    val df = ArrowFlight.fromPayloads(payloads.toDF("body").repartition(4), "body", schema)
    assert(df.count() === 400)
    val agg = df.groupBy("host").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg === Map("h0" -> 100L, "h1" -> 100L, "h2" -> 100L, "h3" -> 100L))
  }

  test("malformed payloads fail loudly, schema mismatch rejected") {
    intercept[IllegalArgumentException](ArrowFlight.grpcUnframe(Array[Byte](0, 0, 0)))
    intercept[IllegalArgumentException](ArrowFlight.grpcUnframe(Array[Byte](1, 0, 0, 0, 1, 9)))
    val payload = ArrowFlight.encodePayload(schema, Seq(Seq[Any]("x", ts(0L), 1.0, 1L, true)))
    val wrong = StructType(schema.fields.take(4))
    intercept[IllegalArgumentException](ArrowFlight.decodePayload(payload, wrong).toSeq)
    val renamed = StructType(schema.fields.updated(0, StructField("other", StringType)))
    intercept[IllegalArgumentException](ArrowFlight.decodePayload(payload, renamed).toSeq)
  }
}
