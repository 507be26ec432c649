package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Catalog
import graft.sql.GraftSession

/** Single-split table reads: when Spark would read a table's files as
  * one split, the read views plan as one partition — no shuffle, no
  * range-sampling job for a global ORDER BY — and a table that splits
  * keeps its exchanges. Rows are identical either way. */
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

  test("a DELTA read after compaction returns the never-compacted merge view's rows") {
    // minPartitionNum = 1 packs the snapshot and its appends into one
    // split, so the merge runs on the single-partition scan; by default
    // each small file is its own split
    for (mode <- Seq("last_row", "last_non_null"); minParts <- Seq(None, Some("1"))) {
      val g = new GraftSession(spark, tmp(s"delta_$mode"))
      minParts.foreach(g.spark.conf.set("spark.sql.files.minPartitionNum", _))
      for (t <- Seq("compacted", "plain")) {
        g.sql(s"""CREATE TABLE $t (ts TIMESTAMP(3) TIME INDEX, host STRING,
            a DOUBLE, b STRING, PRIMARY KEY (host)) WITH ('merge_mode'='$mode')""")
        g.sql(s"INSERT INTO $t VALUES (0, 'h0', 1.0, 'x'), (0, 'h1', 2.0, 'y'), " +
          "(1000, 'h0', 3.0, 'z'), (0, 'h0', 4.0, NULL)")
        if (t == "compacted") g.sql(s"ADMIN compact_table('$t')").collect()
        g.sql(s"INSERT INTO $t (ts, host, a) VALUES (0, 'h1', NULL), (1000, 'h0', 5.0), (0, 'h2', 6.0)")
        g.sql(s"INSERT INTO $t (ts, host, b) VALUES (0, 'h0', 'w')")
      }
      val what = s"$mode, minPartitionNum $minParts"
      val path = g.catalog.spec("compacted").path
      val l = Catalog.listing(g.spark, path).get
      assert(Catalog.readCompactionManifest(g.spark, path).exists(_._2 != l.names),
        s"$what: not on the DELTA path")
      assert(Catalog.singleSplit(g.spark, l.files.map(_.getLen)) == minParts.isDefined, what)
      def rows(t: String) = sorted(g.sql(s"SELECT ts, host, a, b FROM $t").collect())
      assert(rows("compacted") == rows("plain"), what)
      assert(rows("plain").size == 4, what)
    }
  }
}
