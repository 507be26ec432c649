package perfbench

import scala.collection.mutable

import graft.sql.GraftSession

/** `upsert_ingest`: one op is one `INSERT ... VALUES` of every host at
  * [[Gen.SlotsPerInsert]] time slots into a compacted table; every
  * [[Gen.RewriteEvery]]-th INSERT rewrites stored keys (last row wins).
  * After every [[ReadEvery]]-th INSERT a point read checks the fresh
  * rows (the delta merge path), and after every [[CompactEvery]]-th the
  * table is compacted. Reads and compactions count in the timed wall,
  * not in the op latency. */
final class UpsertIngest(env: Env) extends Workload {
  import UpsertIngest._

  val warmupOps: Int = CompactEvery
  override val cycle: Int = CompactEvery
  val itemUnit = "rows ingested"
  private var g: GraftSession = _
  private var fleet: Gen.Fleet = _
  /** Latest write version of every stored (host, slot) key. */
  private val version = mutable.HashMap.empty[(Int, Int), Int]
  private val rewritten = mutable.LinkedHashSet.empty[Int]

  def setup(dir: java.io.File): Unit = {
    fleet = Gen.fleet(env.seed, Hosts)
    version.clear(); rewritten.clear()
    g = new GraftSession(env.spark, new java.io.File(dir, "warehouse").getPath)
    CpuTable.load(g, env.seed, fleet, BaseSlots)
    for (h <- 0 until Hosts; s <- 0 until BaseSlots) version((h, s)) = 0
    g.sql("ADMIN compact_table('cpu')").collect()
  }

  private def value(h: Int, s: Int, field: Int): Double =
    Gen.value(env.seed, h, s, field, version((h, s)))

  def op(k: Int, t: OpTimer): OpResult = {
    val slots = Gen.insertSlots(env.seed, k, BaseSlots)
    val tuples = for (s <- slots; h <- 0 until Hosts) yield
      (Seq(s"'${fleet.hosts(h)}'", s"'${fleet.regions(h)}'", Gen.tsMs(s).toString) ++
        Gen.Fields.indices.map(f => Gen.value(env.seed, h, s, f, k + 1).toString)).mkString("(", ", ", ")")
    val stmt = s"INSERT INTO cpu (${CpuTable.Columns.mkString(", ")}) VALUES ${tuples.mkString(", ")}"
    var status = ""
    t.op { status = env.sql(g, "insert", stmt).head.getString(0) }
    for (s <- slots; h <- 0 until Hosts) version((h, s)) = k + 1
    if (Gen.isRewrite(k)) rewritten ++= slots
    val bad = mutable.ArrayBuffer.empty[String]
    if (status != s"inserted ${tuples.size} rows into cpu") bad += s"insert $k: $status"

    if (k % ReadEvery == ReadEvery - 1) {
      val h = Gen.rng(env.seed, 7, k.toLong).nextInt(Hosts)
      val stmt = s"""SELECT unix_millis(ts) AS t, usage_user, usage_system FROM cpu
                    |WHERE hostname = '${fleet.hosts(h)}' AND ts IN (${slots.map(CpuTable.tsLit).mkString(", ")})
                    |ORDER BY t""".stripMargin
      var rows = Array.empty[org.apache.spark.sql.Row]
      env.observeReads(CpuTable.path(g))
      t.extra("read_after_write") { rows = env.sql(g, "read_after_write", stmt) }
      val got = rows.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      val want = slots.map(s => (Gen.tsMs(s), value(h, s, 0), value(h, s, 1)))
      if (got != want) bad += s"read after insert $k: got $got, want $want"
    }
    if (k % CompactEvery == CompactEvery - 1)
      t.extra("compact") { env.sql(g, "compact", "ADMIN compact_table('cpu')") }
    OpResult(tuples.size.toLong, bad.toSeq)
  }

  /** Live rows equal the distinct keys written, and every rewritten key
    * reads back the last value written to it. */
  def finish(): Seq[String] = {
    val n = g.sql("SELECT count(*) FROM cpu").collect().head.getLong(0)
    val countBad = if (n != version.size) Seq(s"live rows $n, distinct keys written ${version.size}") else Nil
    val ts = rewritten.toSeq.sorted
    val rows = if (ts.isEmpty) Array.empty[org.apache.spark.sql.Row] else g.sql(
      s"""SELECT hostname, unix_millis(ts), usage_user FROM cpu
         |WHERE ts IN (${ts.map(CpuTable.tsLit).mkString(", ")})""".stripMargin).collect()
    val hostIdx = fleet.hosts.zipWithIndex.toMap
    val got = rows.map(r => ((hostIdx(r.getString(0)), ((r.getLong(1) - Gen.T0Ms) / Gen.StepMs).toInt),
      r.getDouble(2))).toMap
    val want = (for (s <- ts; h <- 0 until Hosts) yield (h, s) -> value(h, s, 0)).toMap
    countBad ++ (if (got != want) Seq(s"rewritten keys: ${(want.toSet diff got.toSet).take(3)} missing or stale") else Nil)
  }

  def stored: (Long, Long) = {
    val n = g.sql("SELECT count(*) FROM cpu").collect().head.getLong(0)
    (Disk.bytes(new java.io.File(CpuTable.path(g))), n)
  }

  def dataFiles: Long = Disk.dataFiles(new java.io.File(CpuTable.path(g))).size.toLong
}

object UpsertIngest {
  val Hosts = 10
  /** Two hours at 10 s. */
  val BaseSlots: Int = 2 * Gen.SlotsPerHour
  val ReadEvery = 2
  val CompactEvery = 4
}
