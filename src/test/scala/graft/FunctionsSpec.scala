package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

class FunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)

  test("matches_term — reference golden truth table (matches_term.result)") {
    val cases = Seq(
      ("cat!", "cat", true),
      ("warning:hello world!", "hello world", true),
      ("v1.0!", "v1.0", true),
      ("Cat", "Cat", true),
      ("cat", "Cat", false),      // case-sensitive
      ("", "", true),
      ("any", "", false),
      ("", "any", false),
      ("category", "cat", false), // word boundary
      ("rebooted", "boot", false),
      ("cat5", "cat", false),
      ("dogcat", "dog", false),
      ("dog/cat", "/cat", true),
      ("dog/cat", "dog/", true),
      ("hello-world", "hello world", false),
      ("hello world2023", "hello world", false))
    cases.foreach { case (text, term, want) =>
      assert(TextMatch.termMatches(text, term, caseSensitive = true) == want,
        s"matches_term('$text','$term')")
    }
  }

  test("matches — boolean query grammar") {
    val t = "An error occurred while connecting to the database server"
    assert(TextMatch.compile("error")(t))
    assert(TextMatch.compile("error database")(t))          // OR
    assert(TextMatch.compile("error AND database")(t))
    assert(!TextMatch.compile("error AND missing")(t))
    assert(TextMatch.compile("error OR missing")(t))
    assert(TextMatch.compile("+error -missing")(t))
    assert(!TextMatch.compile("+error -database")(t))
    assert(TextMatch.compile("\"database server\"")(t))
    assert(!TextMatch.compile("\"server database\"")(t))
    assert(TextMatch.compile("(missing OR error) AND database")(t))
    assert(!TextMatch.compile("ERRO")(t))                   // no partial
    assert(TextMatch.compile("ERROR")(t))                   // case-insensitive
  }

  test("geohash — canonical vectors") {
    assert(GeoFunctions.geohashEncode(57.64911, 10.40744, 11) == "u4pruydqqvj")
    assert(GeoFunctions.geohashEncode(37.8324, 112.5584, 9) == "ww8p1r4t8")
  }

  test("vector functions on literals") {
    import spark.implicits._
    val df = Seq(("[1.0,2.0,3.0]", "[4.0,5.0,6.0]")).toDF("a", "b")
      .select(VectorFunctions.parseVec(col("a")).as("a"),
              VectorFunctions.parseVec(col("b")).as("b"))
    val row = df.select(
      VectorFunctions.vecDim(col("a")),
      VectorFunctions.vecDotProduct(col("a"), col("b")),
      VectorFunctions.vecL2sqDistance(col("a"), col("b")),
      VectorFunctions.vecNorm(col("a")),
      VectorFunctions.vecElemSum(col("a")),
      VectorFunctions.vecToString(VectorFunctions.vecAdd(col("a"), col("b"))),
      VectorFunctions.vecKthElem(col("a"), 1),
      VectorFunctions.vecToString(VectorFunctions.vecSubvector(col("a"), lit(1), lit(3)))
    ).head()
    assert(row.getInt(0) == 3)
    assert(row.getDouble(1) == 32.0)
    assert(row.getDouble(2) == 27.0)
    assert(math.abs(row.getDouble(3) - math.sqrt(14.0)) < 1e-12)
    assert(row.getDouble(4) == 6.0)
    assert(row.getString(5) == "[5.0,7.0,9.0]")
    assert(row.getFloat(6) == 2.0f)
    assert(row.getString(7) == "[2.0,3.0]")
  }

  test("ipv4 functions") {
    import spark.implicits._
    val df = Seq(("192.168.0.1", "192.168.0.0/24", "10.0.0.1")).toDF("ip", "cidr", "other")
    val row = df.select(
      IpFunctions.ipv4StringToNum(col("ip")),
      IpFunctions.ipv4NumToString(IpFunctions.ipv4StringToNum(col("ip"))),
      IpFunctions.ipv4InRange(col("ip"), col("cidr")),
      IpFunctions.ipv4InRange(col("other"), col("cidr")),
      IpFunctions.ipv4ToCidr(col("ip"), lit(24))).head()
    assert(row.getLong(0) == 3232235521L)
    assert(row.getString(1) == "192.168.0.1")
    assert(row.getBoolean(2))
    assert(!row.getBoolean(3))
    assert(row.getString(4) == "192.168.0.0/24")
  }

  test("ipv6 roundtrip + range") {
    import spark.implicits._
    val df = Seq(("2001:db8::1", "2001:db8::/32")).toDF("ip", "cidr")
    val row = df.select(
      IpFunctions.ipv6NumToString(IpFunctions.ipv6StringToNum(col("ip"))),
      IpFunctions.ipv6InRange(col("ip"), col("cidr")),
      IpFunctions.ipv6InRange(lit("2001:db9::1"), col("cidr"))).head()
    // Rust-Display compression (function/ip.result pins `2001:db8::1`)
    assert(row.getString(0) == "2001:db8::1")
    assert(row.getBoolean(1))
    assert(!row.getBoolean(2))
  }

  test("json variant functions") {
    import spark.implicits._
    val df = Seq(("""{"a": 1, "b": "x", "c": [1,2], "d": 1.5, "e": null}""")).toDF("j")
    val row = df.select(
      JsonFunctions.jsonGetInt(col("j"), "$.a"),
      JsonFunctions.jsonGetString(col("j"), "$.b"),
      JsonFunctions.jsonGetFloat(col("j"), "$.d"),
      JsonFunctions.jsonIsInt(col("j"), "$.a"),
      JsonFunctions.jsonIsArray(col("j"), "$.c"),
      JsonFunctions.jsonIsString(col("j"), "$.b"),
      JsonFunctions.jsonPathExists(col("j"), "$.b"),
      JsonFunctions.jsonPathExists(col("j"), "$.zz")).head()
    assert(row.getLong(0) == 1L)
    assert(row.getString(1) == "x")
    assert(row.getDouble(2) == 1.5)
    assert(row.getBoolean(3))
    assert(row.getBoolean(4))
    assert(row.getBoolean(5))
    assert(row.getBoolean(6))
    assert(!row.getBoolean(7))
  }

  test("math clamp + rate") {
    import spark.implicits._
    val df = Seq((0L, 10.0), (1000L, 30.0), (3000L, 90.0)).toDF("ts", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"))
    val rates = df.select(MathFunctions.rate(col("ts"), col("v"), w).as("r"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(rates.toSeq == Seq(null, 20.0, 30.0))
    val c = Seq((5.0)).toDF("x")
      .select(MathFunctions.clamp(col("x"), lit(0.0), lit(3.0))).head().getDouble(0)
    assert(c == 3.0)
  }

  test("string mysql-compat functions") {
    import spark.implicits._
    val df = Seq(("hello")).toDF("s")
    val row = df.select(
      StringFunctions.elt(lit(2), lit("a"), lit("b"), lit("c")),
      StringFunctions.field(lit("b"), lit("a"), lit("b"), lit("c")),
      StringFunctions.insert(col("s"), lit(2), lit(3), lit("XYZ")),
      StringFunctions.space(lit(3))).head()
    assert(row.getString(0) == "b")
    assert(row.getLong(1) == 2L)
    assert(row.getString(2) == "hXYZo")
    assert(row.getString(3) == "   ")
  }

  test("anomaly scores") {
    import spark.implicits._
    val df = (Seq.fill(10)(10.0) :+ 100.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    val scores = df.select(col("v"),
      AnomalyFunctions.anomalyScoreZscore(col("v"), w).as("z"),
      AnomalyFunctions.anomalyScoreIqr(col("v"), w).as("iqr"))
      .collect()
    val outlier = scores.find(_.getDouble(0) == 100.0).get
    val normal = scores.find(_.getDouble(0) == 10.0).get
    assert(outlier.getDouble(1) > 2.0)
    assert(normal.getDouble(1) < 1.0)
    assert(outlier.getDouble(2) > 0.0)
    assert(normal.getDouble(2) == 0.0)

    val mad = AnomalyFunctions.withAnomalyScoreMad(df, "v", Seq(), "m")
    val madOut = mad.filter(col("v") === 100.0).head().getAs[Double]("m")
    assert(madOut === Double.PositiveInfinity) // MAD of constant-ish set is 0
  }

  test("zscore join-back keeps null-partition rows (window parity)") {
    import spark.implicits._
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0),
      (null.asInstanceOf[String], 5.0), (null.asInstanceOf[String], 7.0)
    ).toDF("g", "v")
    val out = AnomalyFunctions.withAnomalyScoreZscore(df, "v", Seq("g"), "z")
    assert(out.count() == 5, "null-group rows must survive the join-back")
    // parity with the WindowSpec variant: nulls score as their own group
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).rowsBetween(Long.MinValue, Long.MaxValue)
    val winScores = df.select(col("g"), col("v"),
        AnomalyFunctions.anomalyScoreZscore(col("v"), w).as("z"))
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1)) -> r.getDouble(2)).toMap
    out.collect().foreach { r =>
      val k = (Option(r.getString(0)), r.getDouble(1))
      assert(math.abs(r.getAs[Double]("z") - winScores(k)) < 1e-12, s"diverged at $k")
    }
  }
}
