package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.sql.GraftSession

/** The devops `cpu` table every SQL workload stores: tags `hostname`
  * and `region`, a millisecond time index at 10 s spacing, and the
  * DOUBLE fields of [[Gen.Fields]]. */
object CpuTable {
  val Ddl: String =
    s"""CREATE TABLE cpu (
       |  hostname STRING, region STRING, ts TIMESTAMP(3) TIME INDEX,
       |  ${Gen.Fields.map(f => s"$f DOUBLE").mkString(", ")},
       |  PRIMARY KEY (hostname, region))""".stripMargin

  val Columns: Seq[String] = Seq("hostname", "region", "ts") ++ Gen.Fields

  /** Creates the table and bulk-loads `hosts` x `slots` generated rows
    * with one `INSERT ... SELECT` from a view that computes each row
    * with [[Gen.value]] (the same values [[Gen.cpuRows]] returns). */
  def load(g: GraftSession, seed: Long, fleet: Gen.Fleet, slots: Int): Unit = {
    g.sql(Ddl)
    val value = udf((h: Int, t: Int, f: Int) => Gen.value(seed, h, t, f))
    val h = (col("id") / slots).cast("int")
    val t = (col("id") % slots).cast("int")
    g.spark.range(fleet.size.toLong * slots)
      .select(Seq(
        element_at(typedLit(fleet.hosts), h + 1).as("hostname"),
        element_at(typedLit(fleet.regions), h + 1).as("region"),
        timestamp_millis(lit(Gen.T0Ms) + t * Gen.StepMs).as("ts")) ++
        Gen.Fields.indices.map(f => value(h, t, lit(f)).as(Gen.Fields(f))): _*)
      .createOrReplaceTempView("cpu_generated")
    g.sql(s"INSERT INTO cpu SELECT ${Columns.mkString(", ")} FROM cpu_generated")
    g.spark.catalog.dropTempView("cpu_generated")
  }

  def tsLit(tIdx: Int): String =
    s"TIMESTAMP '${java.time.Instant.ofEpochMilli(Gen.tsMs(tIdx)).toString.replace('T', ' ').stripSuffix("Z")}'"

  def path(g: GraftSession): String = g.catalog.spec("cpu").path
}

/** A panel result reduced to what the references fix: its row count
  * and the sum of its DOUBLE cells. */
final case class Digest(rows: Long, sum: Double) {
  def matches(o: Digest): Boolean =
    rows == o.rows && math.abs(sum - o.sum) <= 1e-6 * math.max(1.0, math.abs(o.sum))
}

object Digest {
  def of(rows: Array[Row]): Digest = Digest(rows.length,
    rows.iterator.map(r => (0 until r.length).iterator.map(r.get).collect {
      case d: java.lang.Double => d.doubleValue
    }.sum).sum)
}

/** `ts_dashboard`: one op is one refresh of a fixed panel set over a
  * compacted table; all reads take the window-free clean path. */
final class TsDashboard(env: Env) extends Workload {
  import TsDashboard._

  val warmupOps = 2
  val itemUnit = "panel queries"
  private var g: GraftSession = _
  private var fleet: Gen.Fleet = _
  private var ref: Reference = _

  def setup(dir: java.io.File): Unit = {
    fleet = Gen.fleet(env.seed, Hosts)
    val rows = Gen.cpuRows(env.seed, Hosts, Slots)
    g = new GraftSession(env.spark, new java.io.File(dir, "warehouse").getPath)
    CpuTable.load(g, env.seed, fleet, Slots)
    g.sql("ADMIN compact_table('cpu')").collect()
    ref = new Reference(fleet, rows, Slots)
  }

  def op(i: Int, t: OpTimer): OpResult = {
    val d = Gen.dash(env.seed, i, Hosts, Slots)
    val stmts = panels(d).map { case (k, q) => k -> q.replaceAll("\\s+", " ") }
    var out = Seq.empty[(String, Digest)]
    env.observeReads(CpuTable.path(g), stmts.size)
    t.op { out = stmts.map { case (kind, stmt) => kind -> Digest.of(env.sql(g, kind, stmt)) } }
    val bad = out.zip(ref.dashboard(d)).collect {
      case ((k, got), (_, want)) if !got.matches(want) => s"$k: got $got, want $want"
    }
    OpResult(stmts.size.toLong, bad)
  }

  def finish(): Seq[String] = Nil

  def stored: (Long, Long) = {
    val n = g.sql("SELECT count(*) FROM cpu").collect().head.getLong(0)
    (Disk.bytes(new java.io.File(CpuTable.path(g))), n)
  }

  def dataFiles: Long = Disk.dataFiles(new java.io.File(CpuTable.path(g))).size.toLong

  private def panels(d: Gen.Dash): Seq[(String, String)] = {
    import CpuTable.tsLit
    val host = fleet.hosts
    Seq(
      "point" ->
        s"""SELECT date_trunc('minute', ts) AS m, max(usage_user) AS v FROM cpu
           |WHERE hostname = '${host(d.pointHost)}' AND ts >= ${tsLit(d.pointStart)}
           |  AND ts < ${tsLit(d.pointStart + Gen.SlotsPerHour)}
           |GROUP BY date_trunc('minute', ts) ORDER BY m""".stripMargin,
      "cpu_max_all_8" ->
        s"""SELECT date_trunc('hour', ts) AS h, ${Gen.Fields.map(f => s"max($f)").mkString(", ")}
           |FROM cpu WHERE hostname IN (${d.max8Hosts.map(h => s"'${host(h)}'").mkString(", ")})
           |  AND ts >= ${tsLit(d.max8Start)} AND ts < ${tsLit(d.max8Start + 8 * Gen.SlotsPerHour)}
           |GROUP BY date_trunc('hour', ts) ORDER BY h""".stripMargin,
      "double_groupby" ->
        """SELECT date_trunc('hour', ts) AS h, hostname, avg(usage_user), avg(usage_system)
          |FROM cpu GROUP BY date_trunc('hour', ts), hostname ORDER BY h, hostname""".stripMargin,
      "lastpoint" ->
        """SELECT hostname, max(ts) AS last_ts, max_by(usage_user, ts) AS usage_user
          |FROM cpu GROUP BY hostname ORDER BY hostname""".stripMargin,
      "high_cpu" ->
        s"""SELECT ts, usage_user FROM cpu
           |WHERE hostname = '${host(d.highHost)}' AND usage_user > $HighCpu ORDER BY ts""".stripMargin,
      "range_align" ->
        s"""SELECT ts, hostname, avg(usage_user) RANGE '5m' AS v FROM cpu
           |WHERE ts >= ${tsLit(d.rangeStart)} AND ts < ${tsLit(d.rangeStart + Gen.SlotsPerHour)}
           |ALIGN '5m' BY (hostname) ORDER BY hostname, ts""".stripMargin,
      "tql_rate" -> {
        val start = Gen.tsMs(d.tqlStart) / 1000
        s"""TQL EVAL ($start, ${start + 3600}, '1m')
           |avg by (region) (rate(cpu{__field__="usage_user"}[5m]))""".stripMargin
      })
  }
}

object TsDashboard {
  val Hosts = 10
  /** 12 hours at 10 s. */
  val Slots: Int = 12 * Gen.SlotsPerHour
  val HighCpu = 90.0
}

/** Expected panel digests, computed in the benchmark process from the
  * generated rows: an independent reading of each panel's semantics
  * that never goes through the engine. */
final class Reference(fleet: Gen.Fleet, rows: Seq[Gen.CpuRow], slots: Int) {
  private val v: Array[Array[Array[Double]]] = {
    val a = Array.fill(fleet.size, slots)(Array.emptyDoubleArray)
    rows.foreach(r => a(r.host)(r.tIdx) = r.vals.toArray)
    a
  }
  private val perHour = Gen.SlotsPerHour
  private def f(h: Int, t: Int, field: Int): Double = v(h)(t)(field)

  def dashboard(d: Gen.Dash): Seq[(String, Digest)] = Seq(
    "point" -> {
      val ms = (0 until 60).map(m => (0 until 6).map(s => f(d.pointHost, d.pointStart + 6 * m + s, 0)).max)
      Digest(ms.size, ms.sum)
    },
    "cpu_max_all_8" -> {
      val cells = for (hr <- 0 until 8; field <- Gen.Fields.indices) yield
        (for (h <- d.max8Hosts; s <- 0 until perHour) yield f(h, d.max8Start + hr * perHour + s, field)).max
      Digest(8, cells.sum)
    },
    "double_groupby" -> {
      val cells = for (hr <- 0 until slots / perHour; h <- 0 until fleet.size; field <- Seq(0, 1)) yield
        (0 until perHour).map(s => f(h, hr * perHour + s, field)).sum / perHour
      Digest(slots / perHour * fleet.size, cells.sum)
    },
    "lastpoint" -> Digest(fleet.size, (0 until fleet.size).map(h => f(h, slots - 1, 0)).sum),
    "high_cpu" -> {
      val hits = (0 until slots).map(f(d.highHost, _, 0)).filter(_ > TsDashboard.HighCpu)
      Digest(hits.size, hits.sum)
    },
    "range_align" -> {
      val cells = for (h <- 0 until fleet.size; w <- 0 until 12) yield
        (0 until 30).map(s => f(h, d.rangeStart + 30 * w + s, 0)).sum / 30
      Digest(cells.size, cells.sum)
    },
    "tql_rate" -> {
      val regions = fleet.regions.distinct
      val cells = for (k <- 0 to 60; r <- regions) yield {
        val end = d.tqlStart + 6 * k
        val rates = fleet.hosts.indices.filter(fleet.regions(_) == r).map { h =>
          val samples = (end - 29 to end).map(s => (Gen.tsMs(s), f(h, s, 0)))
          Reference.rate(samples, Gen.tsMs(end) - 300000L, Gen.tsMs(end))
        }
        rates.sum / rates.size
      }
      Digest(cells.size, cells.sum)
    })
}

object Reference {
  /** Prometheus `rate` over one window's samples (range (start, end]):
    * counter resets add back the value before the drop, the increase is
    * extrapolated toward the window edges (at most half a sample
    * interval past the data, and never below zero for a counter), and
    * divided by the window length in seconds. */
  def rate(samples: Seq[(Long, Double)], startMs: Long, endMs: Long): Double = {
    val (t0, v0) = samples.head
    val (t1, v1) = samples.last
    val increase = v1 - v0 + samples.sliding(2).collect {
      case Seq((_, a), (_, b)) if b < a => a
    }.sum
    val sampled = (t1 - t0) / 1000.0
    val avgGap = sampled / (samples.size - 1)
    val toZero = if (increase > 0 && v0 >= 0) sampled * (v0 / increase) else Double.MaxValue
    val toStart = math.min((t0 - startMs) / 1000.0, toZero)
    val toEnd = (endMs - t1) / 1000.0
    def edge(d: Double) = if (d < avgGap * 1.1) d else avgGap / 2
    increase * (sampled + edge(toStart) + edge(toEnd)) / sampled / ((endMs - startMs) / 1000.0)
  }
}
