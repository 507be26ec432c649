package perfbench

/** Seeded input generators. Every input a workload feeds the engine is
  * a pure function of the `--seed` argument (and of the op index), so
  * the same seed replays the same tables, statements and documents, and
  * the correctness references can be recomputed in-process without
  * going through the engine. */
object Gen {

  /** SplitMix64 finalizer: a fixed bijective mix of 64 bits. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))

  /** A deterministic stream for one purpose (`salt`) under one seed. */
  def rng(seed: Long, salt: Long*): scala.util.Random =
    new scala.util.Random(hash(seed, salt: _*))

  // ---- TSBS devops `cpu` ------------------------------------------------

  /** 2024-01-01T00:00:00Z; samples every 10 s from here. */
  val T0Ms = 1704067200000L
  val StepMs = 10000L
  val Fields: Vector[String] =
    Vector("usage_user", "usage_system", "usage_idle", "usage_iowait", "usage_nice")
  val Regions: Vector[String] = Vector("us-east-1", "us-west-2", "eu-west-1", "ap-south-1")

  final case class Fleet(hosts: Vector[String], regions: Vector[String]) {
    def size: Int = hosts.size
  }

  /** `n` hosts; each host's region drawn from the seed. */
  def fleet(seed: Long, n: Int): Fleet = {
    val r = rng(seed, 1)
    Fleet(Vector.tabulate(n)(i => f"host_$i%02d"),
      Vector.fill(n)(Regions(r.nextInt(Regions.size))))
  }

  def tsMs(tIdx: Int): Long = T0Ms + tIdx * StepMs

  /** Field value of (host, time slot, field) in write version `ver`
    * (0 = the bulk load; upserts write later versions). Two decimals in
    * [0, 100), so sums stay exact enough to compare across engines. */
  def value(seed: Long, host: Int, tIdx: Int, field: Int, ver: Int = 0): Double =
    java.lang.Math.floorMod(hash(seed, 2, host.toLong, tIdx.toLong, field.toLong, ver.toLong),
      10000L) / 100.0

  /** One stored row: host index, time slot and the field values. */
  final case class CpuRow(host: Int, tIdx: Int, vals: Vector[Double])

  def cpuRows(seed: Long, hosts: Int, slots: Int): Vector[CpuRow] =
    (for (h <- 0 until hosts; t <- 0 until slots)
      yield CpuRow(h, t, Vector.tabulate(Fields.size)(f => value(seed, h, t, f)))).toVector

  // ---- ts_dashboard panels ------------------------------------------------

  /** One dashboard refresh's parameters. Time arguments are slot
    * indexes into the loaded table; windows always lie inside it. */
  final case class Dash(
      pointHost: Int, pointStart: Int,
      max8Hosts: Vector[Int], max8Start: Int,
      highHost: Int,
      rangeStart: Int,
      tqlStart: Int)

  val SlotsPerHour: Int = 360

  def dash(seed: Long, i: Int, hosts: Int, slots: Int): Dash = {
    val r = rng(seed, 3, i.toLong)
    // whole minutes / hours / 5 minutes, so aligned buckets stay whole
    def startIn(len: Int, unit: Int): Int = r.nextInt((slots - len) / unit + 1) * unit
    Dash(
      pointHost = r.nextInt(hosts), pointStart = startIn(SlotsPerHour, 6),
      max8Hosts = r.shuffle((0 until hosts).toVector).take(8).sorted,
      max8Start = startIn(8 * SlotsPerHour, SlotsPerHour),
      highHost = r.nextInt(hosts),
      rangeStart = startIn(SlotsPerHour, 30),
      // the 5 min lookback before the first step and the last step
      // (61 steps, both ends included) stay inside the table
      tqlStart = 30 + startIn(SlotsPerHour + 31, 6))
  }

  // ---- upsert_ingest --------------------------------------------------------

  /** The k-th INSERT writes every host at `SlotsPerInsert` time slots:
    * fresh slots past the stored ones, or (every `RewriteEvery`-th
    * INSERT) slots already stored, which the last-row merge replaces. */
  val SlotsPerInsert = 4
  val RewriteEvery = 4

  def isRewrite(k: Int): Boolean = k % RewriteEvery == RewriteEvery - 1

  /** Slots written by INSERT `k` when the table was loaded with
    * `baseSlots` slots. Fresh INSERTs extend the series in order; a
    * rewrite picks slots among everything written so far. */
  def insertSlots(seed: Long, k: Int, baseSlots: Int): Vector[Int] =
    if (!isRewrite(k)) {
      val fresh = k - k / RewriteEvery // fresh INSERTs before this one
      Vector.tabulate(SlotsPerInsert)(j => baseSlots + fresh * SlotsPerInsert + j)
    } else {
      val stored = baseSlots + (k - k / RewriteEvery) * SlotsPerInsert
      val r = rng(seed, 4, k.toLong)
      Iterator.continually(r.nextInt(stored)).distinct.take(SlotsPerInsert).toVector.sorted
    }

  // ---- dedup_stream -----------------------------------------------------------

  val WordsPerDoc = 60
  val Vocabulary = 4000

  private def word(w: Int): String = "w" + Integer.toString(w, 36)

  /** The fresh text of an original document. */
  def originalText(seed: Long, id: Long): String = {
    val r = rng(seed, 5, id)
    Vector.fill(WordsPerDoc)(word(r.nextInt(Vocabulary))).mkString(" ")
  }

  sealed trait Kind
  case object Original extends Kind
  /** Same text as `src` up to case and whitespace (a re-crawl). */
  final case class Recrawl(src: Long) extends Kind
  /** `src` with one word replaced by a word no other doc uses. */
  final case class NearDup(src: Long) extends Kind

  final case class Doc(id: Long, text: String, kind: Kind)

  val RecrawlRate = 0.10
  val NearDupRate = 0.10

  /** Bootstrap corpus: ids 1..n, all originals. */
  def bootDocs(seed: Long, n: Int): Vector[Doc] =
    Vector.tabulate(n)(i => Doc(i + 1L, originalText(seed, i + 1L), Original))

  /** Micro-batch `b` of `size` docs arriving after a bootstrap of
    * `boot` docs. Ids keep arrival order; planted duplicates copy a
    * bootstrap doc, which is an original and already indexed. */
  def batch(seed: Long, b: Int, size: Int, boot: Int): Vector[Doc] = {
    val r = rng(seed, 6, b.toLong)
    Vector.tabulate(size) { j =>
      val id = boot + b.toLong * size + j + 1
      val u = r.nextDouble()
      val src = 1L + r.nextInt(boot)
      if (u < RecrawlRate) {
        val words = originalText(seed, src).split(' ')
        // upper-cased first word and doubled spaces: equal after the
        // exact stage's normalization
        Doc(id, (words.head.toUpperCase +: words.tail).mkString("  ") + " ", Recrawl(src))
      } else if (u < RecrawlRate + NearDupRate) {
        val words = originalText(seed, src).split(' ')
        words(r.nextInt(words.length)) = "x" + java.lang.Long.toString(id, 36)
        Doc(id, words.mkString(" "), NearDup(src))
      } else Doc(id, originalText(seed, id), Original)
    }
  }
}
