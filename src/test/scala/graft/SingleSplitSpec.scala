package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Catalog
import graft.sql.GraftSession

/** One-partition plans: when Spark would read a table's files as one
  * split, or a compacted snapshot as one split plus a delta small
  * enough to broadcast, the read views plan as one partition — no
  * shuffle, no range-sampling job for a global ORDER BY — and a table
  * that splits keeps its exchanges. Rows are identical either way. An
  * INSERT VALUES dedups its rows in one partition too, and a torn
  * compaction manifest reads as none. */
class SingleSplitSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private val groups = new AtomicInteger

  /** Runs `body` in a fresh job group and returns its result with the
    * number of Spark jobs the group started, counted by a listener. A
    * marker job submitted afterwards fences the listener bus: its start
    * event is delivered after every event of `body`'s jobs. */
  private def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"single-split-${groups.incrementAndGet()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet(): Unit
          case `marker` => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(30, TimeUnit.SECONDS), "listener bus never delivered the marker job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeLike] =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeLike => s }

  private val Query =
    "SELECT host, max(v) AS m, count(*) AS n FROM cpu GROUP BY host ORDER BY host"

  /** A `cpu` table loaded with rewritten keys and compacted to one file. */
  private def compactedCpu(g: GraftSession): Unit = {
    g.sql("""CREATE TABLE cpu (ts TIMESTAMP(3) TIME INDEX, host STRING,
        v DOUBLE, PRIMARY KEY (host))""")
    g.sql("INSERT INTO cpu VALUES " + (0 until 60).map(i =>
      s"(${1000L * (i % 20)}, 'h${i % 6}', ${i * 1.5})").mkString(", "))
    g.sql("INSERT INTO cpu VALUES (0, 'h0', 99.0), (1000, 'h1', -1.0)")
    g.sql("ADMIN compact_table('cpu')").collect()
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("compacted single-file table: GROUP BY ... ORDER BY plans no shuffle and runs one job") {
    val g = new GraftSession(spark, tmp("single_split"))
    compactedCpu(g)
    val path = g.catalog.spec("cpu").path
    assert(Catalog.listing(g.spark, path).get.files.size == 1)
    val df = g.sql(Query)
    val (rows, jobs) = withJobCount(df.collect())
    assert(jobs == 1, s"jobs=$jobs")
    assert(shuffles(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(rows.map(_.getString(0)).toSeq == (0 until 6).map(i => s"h$i"))
    assert(rows.map(_.getLong(2)).sum == 60) // 60 distinct (host, ts) keys
  }

  test("the same data split across scan tasks keeps its exchanges and returns the same rows") {
    val one = new GraftSession(spark, tmp("single_split_one"))
    compactedCpu(one)
    val many = new GraftSession(spark, tmp("single_split_many"))
    many.spark.conf.set("spark.sql.files.maxPartitionBytes", "256")
    compactedCpu(many)
    val path = many.catalog.spec("cpu").path
    val lens = Catalog.listing(many.spark, path).get.files.map(_.getLen)
    assert(!Catalog.singleSplit(many.spark, lens))
    assert(many.spark.read.parquet(path).rdd.getNumPartitions >= 2)
    val df = many.sql(Query)
    val rows = df.collect()
    assert(shuffles(df).nonEmpty, df.queryExecution.executedPlan.toString)
    assert(rows.toSeq == one.sql(Query).collect().toSeq)
  }

  test("the split decision agrees with Spark's scan partition count") {
    val s = spark.newSession()
    def agrees(path: String, expected: Boolean): Unit = {
      val lens = Catalog.listing(s, path).get.files.map(_.getLen)
      val single = Catalog.singleSplit(s, lens)
      assert(single == (s.read.parquet(path).rdd.getNumPartitions == 1), path)
      assert(single == expected, s"$path: ${lens.size} files of $lens bytes")
    }
    val oneFile = tmp("split_one") + "/t"
    s.range(1000).coalesce(1).write.parquet(oneFile)
    agrees(oneFile, expected = true)
    // each file adds spark.sql.files.openCostInBytes to the split
    val smallFiles = tmp("split_small") + "/t"
    s.range(1000).repartition(8).write.parquet(smallFiles)
    agrees(smallFiles, expected = false)
    val bigFile = tmp("split_big") + "/t"
    s.range(20000).selectExpr("rand(7) AS r").coalesce(1).write.parquet(bigFile)
    s.conf.set("spark.sql.files.maxPartitionBytes",
      (new java.io.File(bigFile).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length).max / 3).toString)
    agrees(bigFile, expected = false)
  }

  /** A table `t` with a snapshot holding a null-tag key and a key
    * written twice in one INSERT, compacted when `compact`, then a delta
    * that rewrites snapshot keys (the null tag among them) and adds new
    * ones. */
  private def deltaTable(g: GraftSession, t: String, mode: String, compact: Boolean): Unit = {
    g.sql(s"""CREATE TABLE $t (ts TIMESTAMP(3) TIME INDEX, host STRING,
        a DOUBLE, b STRING, PRIMARY KEY (host)) WITH ('merge_mode'='$mode')""")
    g.sql(s"INSERT INTO $t VALUES (0, 'h0', 1.0, 'x'), (0, 'h1', 2.0, 'y'), " +
      "(1000, 'h0', 3.0, 'z'), (0, 'h0', 4.0, NULL), (0, NULL, 7.0, 'n'), (1000, NULL, 8.0, NULL)")
    if (compact) g.sql(s"ADMIN compact_table('$t')").collect()
    g.sql(s"INSERT INTO $t (ts, host, a) VALUES (0, 'h1', NULL), (1000, 'h0', 5.0), " +
      "(0, 'h2', 6.0), (0, NULL, NULL)")
    g.sql(s"INSERT INTO $t (ts, host, b) VALUES (0, 'h0', 'w'), (1000, NULL, 'm'), (2000, NULL, 'k')")
  }

  private def isDelta(g: GraftSession, t: String): Boolean = {
    val l = Catalog.listing(g.spark, g.catalog.spec(t).path).get
    l.manifest.exists(_.files != l.names)
  }

  test("a DELTA read after compaction returns the never-compacted merge view's rows") {
    // a snapshot that fits one split plus a delta within
    // autoBroadcastJoinThreshold reads as one partition, so the merge
    // plans no exchange; a threshold of -1 keeps the exchange plan, and
    // minPartitionNum = 1 packs every file into one split either way
    val settings = Seq(None, Some("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
      Some("spark.sql.files.minPartitionNum" -> "1"))
    for (mode <- Seq("last_row", "last_non_null"); setting <- settings) {
      val what = s"$mode, $setting"
      val g = new GraftSession(spark, tmp(s"delta_$mode"))
      setting.foreach { case (k, v) => g.spark.conf.set(k, v) }
      val split = setting.exists(_._1 == "spark.sql.files.minPartitionNum")
      val one = !setting.exists(_._1 == "spark.sql.autoBroadcastJoinThreshold")
      deltaTable(g, "compacted", mode, compact = true)
      deltaTable(g, "plain", mode, compact = false)
      def rows(t: String) = sorted(g.sql(s"SELECT ts, host, a, b FROM $t").collect())
      val l = Catalog.listing(g.spark, g.catalog.spec("compacted").path).get
      assert(isDelta(g, "compacted"), s"$what: not on the DELTA path")
      assert(Catalog.singleSplit(g.spark, l.files.map(_.getLen)) == split, what)
      assert(Catalog.onePartition(g.spark, l) == one, what)
      if (setting.isEmpty) {
        // the last rule alone: a split size that holds the snapshot but
        // not the snapshot and delta bytes together
        val s = g.spark.newSession()
        val (snapshot, delta) = l.files.partition(f => l.manifest.get.files(f.getPath.getName))
        s.conf.set("spark.sql.files.maxPartitionBytes",
          (snapshot.map(_.getLen).sum + delta.map(_.getLen).sum / 2).toString)
        assert(Catalog.singleSplit(s, snapshot.map(_.getLen)), s"$what: ${l.files}")
        assert(!Catalog.onePartition(s, l), s"$what: ${l.files}")
      }
      val merge = g.sql("SELECT ts, host, a, b FROM compacted")
      merge.collect()
      val exchanges = collect(merge.queryExecution.executedPlan) { case e: Exchange => e }
      assert(exchanges.isEmpty == one, s"$what: ${merge.queryExecution.executedPlan}")
      assert(rows("compacted") == rows("plain"), what)
      assert(rows("plain").size == 7, what)
      // (0, 'h0') was written twice in one INSERT, then its b rewritten
      val h0 = g.sql("SELECT a, b FROM plain WHERE host = 'h0' AND unix_millis(ts) = 0").collect()
      assert(h0.map(_.toString).toSeq ==
        Seq(if (mode == "last_row") "[null,w]" else "[4.0,w]"), what)
      assert(g.sql("SELECT ts FROM plain WHERE host IS NULL").collect().length == 3, what)
      // a second compaction merges snapshot and delta again
      g.sql("ADMIN compact_table('compacted')").collect()
      assert(!isDelta(g, "compacted"), what)
      assert(rows("compacted") == rows("plain"), s"$what, second compaction")
      g.sql("INSERT INTO compacted (ts, host, a) VALUES (0, 'h0', 9.0), (0, NULL, 9.5)")
      g.sql("INSERT INTO plain (ts, host, a) VALUES (0, 'h0', 9.0), (0, NULL, 9.5)")
      assert(isDelta(g, "compacted"), what)
      assert(rows("compacted") == rows("plain"), s"$what, delta after the second compaction")
    }
  }

  test("a torn or old-format compaction manifest reads as never compacted") {
    val g = new GraftSession(spark, tmp("manifest"))
    deltaTable(g, "compacted", "last_non_null", compact = true)
    deltaTable(g, "plain", "last_non_null", compact = false)
    val path = g.catalog.spec("compacted").path
    val file = new java.io.File(path, "_graft_compaction")
    val whole = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
    def manifest = Catalog.listing(g.spark, path).get.manifest
    val Catalog.Manifest(seq, files) = manifest.get
    def rows(t: String) =
      sorted(g.catalog.read(t).select("ts", "host", "a", "b").collect())
    val plain = rows("plain")
    assert(rows("compacted") == plain)
    val oldFormat = (seq.toString +: files.toSeq.sorted).mkString("\n")
    for ((what, text) <- Seq("truncated" -> whole.dropRight(4), "old format" -> oldFormat,
        "empty" -> "")) {
      java.nio.file.Files.write(file.toPath, text.getBytes("UTF-8"))
      new java.io.File(path, "._graft_compaction.crc").delete()
      assert(manifest.isEmpty, what)
      assert(rows("compacted") == plain, what)
    }
    // a rewrite replaces the manifest whole
    val names = Catalog.listing(g.spark, path).get.names
    Catalog.writeCompactionManifest(g.spark, path, seq)
    assert(manifest.contains(Catalog.Manifest(seq, names)))
    Catalog.writeCompactionManifest(g.spark, path, seq + 1)
    assert(manifest.contains(Catalog.Manifest(seq + 1, names)))
  }

  test("job counts: INSERT VALUES, a DELTA point read, compaction and a clean read run one job each") {
    val g = new GraftSession(spark, tmp("job_counts"))
    compactedCpu(g)
    def insert(k: Int) = g.sql("INSERT INTO cpu VALUES " + (0 until 40).map(i =>
      s"(${1000L * (20 + 4 * k + i / 10)}, 'h${i % 10}', ${i * 0.5})").mkString(", ")).collect()
    val (_, insertJobs) = withJobCount(insert(0))
    assert(insertJobs == 1, s"INSERT jobs=$insertJobs")
    insert(1)
    val point = "SELECT ts, v FROM cpu WHERE host = 'h1' AND ts IN " +
      "(TIMESTAMP '1970-01-01 00:00:24', TIMESTAMP '1970-01-01 00:00:01') ORDER BY ts"
    val read = g.sql(point)
    val (rows, readJobs) = withJobCount(read.collect())
    assert(readJobs == 1, s"DELTA read jobs=$readJobs: ${read.queryExecution.executedPlan}")
    assert(rows.map(_.getDouble(1)).toSeq == Seq(-1.0, 0.5))
    val (_, compactJobs) = withJobCount(g.sql("ADMIN compact_table('cpu')").collect())
    assert(compactJobs == 1, s"compaction jobs=$compactJobs")
    val (clean, cleanJobs) = withJobCount(g.sql(Query).collect())
    assert(cleanJobs == 1, s"clean read jobs=$cleanJobs")
    assert(clean.map(_.getLong(2)).sum == 60 + 80)
  }

  test("INSERT VALUES: the later duplicate wins, the status counts distinct keys, one file per statement") {
    for (mode <- Seq("last_row", "last_non_null")) {
      val g = new GraftSession(spark, tmp(s"insert_dups_$mode"))
      g.sql("CREATE TABLE t (ts TIMESTAMP(3) TIME INDEX, host STRING, v DOUBLE, " +
        s"PRIMARY KEY (host)) WITH ('merge_mode'='$mode')")
      val path = g.catalog.spec("t").path
      def files = Catalog.listing(g.spark, path).get.files.size
      def rows = sorted(g.sql("SELECT unix_millis(ts), host, v FROM t").collect())
      val created = files // CREATE TABLE writes the schema as an empty file
      val status = g.sql("INSERT INTO t VALUES (0, 'h0', 1.0), (0, 'h1', 2.0), " +
        "(0, 'h0', 3.0), (1000, 'h0', 4.0), (0, 'h1', NULL), (0, NULL, 5.0), (0, NULL, 6.0)")
        .collect().head.getString(0)
      assert(status == "inserted 4 rows into t", mode)
      assert(files == created + 1, mode)
      // last_non_null keeps a field's newest non-null value, as separate
      // INSERTs would
      val h1 = if (mode == "last_row") "null" else "2.0"
      assert(rows == Seq("[0,h0,3.0]", s"[0,h1,$h1]", "[0,null,6.0]", "[1000,h0,4.0]"), mode)
      g.sql("INSERT INTO t VALUES " + (0 until 40).map(i => s"(${1000L * i}, 'h${i % 3}', $i.5)")
        .mkString(", "))
      assert(files == created + 2, s"$mode: one INSERT adds one data file")
      // a bad-cast cell rejects the whole statement, its good rows too,
      // also when a later row of the same key would replace it
      val before = rows
      for (bad <- Seq("(5000, 'h9', '1.5'), (6000, 'h9', 'abc'), (7000, 'h8', '2')",
          "(5000, 'h9', 'abc'), (5000, 'h9', '1.5')")) {
        val err = intercept[Exception](g.sql(s"INSERT INTO t VALUES $bad"))
        assert(err.getMessage.contains("Unable to convert"), s"$mode: ${err.getMessage}")
      }
      assert(rows == before, mode)
      assert(files == created + 2, mode)
    }
  }
}
