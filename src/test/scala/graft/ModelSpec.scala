package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Catalog, MergeMode, TableSpec}

class ModelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)
  import spark.implicits._

  private def spec(mode: MergeMode, ttl: Option[Long] = None) = TableSpec(
    name = "t", path = "", timeIndex = "ts", tags = Seq("host"),
    mergeMode = mode, ttlMillis = ttl, seqColumn = Some("seq"))

  private def raw = Seq(
    ("a", 100L, Some(1.0), Some("x"), 0L),
    ("a", 100L, Some(2.0), None, 1L),      // newer write, f2 null
    ("a", 200L, Some(5.0), Some("y"), 0L),
    ("b", 100L, None, Some("z"), 0L)
  ).toDF("host", "ts", "f1", "f2", "seq")

  test("last_row: newest write wins wholesale") {
    val out = Catalog.readView(raw, spec(MergeMode.LastRow))
      .orderBy($"host", $"ts").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
    assert(out.toSeq == Seq(
      ("a", 100L, Some(2.0), None), // f2 lost: row replacement
      ("a", 200L, Some(5.0), Some("y")),
      ("b", 100L, None, Some("z"))))
  }

  test("last_non_null: per-field newest non-null wins") {
    val out = Catalog.readView(raw, spec(MergeMode.LastNonNull))
      .orderBy($"host", $"ts").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
    assert(out.toSeq == Seq(
      ("a", 100L, Some(2.0), Some("x")), // f1 from seq1, f2 kept from seq0
      ("a", 200L, Some(5.0), Some("y")),
      ("b", 100L, None, Some("z"))))
  }

  test("append mode: raw read, no dedup") {
    assert(Catalog.readView(raw, spec(MergeMode.Append)).count() == 4)
  }

  test("seriesScan co-locates each series time-ordered, no global sort") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("series").toString + "/t"
    Seq(("a", 300L, 1.0), ("b", 100L, 2.0), ("a", 100L, 3.0), ("b", 200L, 4.0))
      .toDF("host", "ts", "v").write.parquet(dir)
    val cat = new Catalog(spark)
    cat.register(TableSpec("t", dir, timeIndex = "ts", tags = Seq("host")))
    val scanned = cat.seriesScan("t")
    // partition-local order: within each partition rows are (host, ts) sorted
    val perPartition = scanned.rdd.mapPartitions { it =>
      val rows = it.map(r => (r.getAs[String]("host"), r.getAs[Long]("ts"))).toSeq
      Iterator.single(rows == rows.sorted)
    }.collect()
    assert(perPartition.forall(identity))
    assert(scanned.count() == 4)
    // physical Sort prints `Sort [...], <global>, 0` — must be local
    val plan = scanned.queryExecution.executedPlan.toString
    assert(!plan.contains("], true, 0"), plan)
  }

  test("ttl: instant hides rows from scans, duration defers to compaction") {
    val now = System.currentTimeMillis()
    val df = Seq(("a", now - 1000L, 1.0, "x", 0L), ("a", now - 999999L, 2.0, "y", 0L))
      .toDF("host", "ts", "f1", "f2", "seq")
      .withColumn("ts", timestamp_millis($"ts"))
    // duration ttl: rows stay visible until a flush/compaction
    // materializes the expiry (flow/flow_advance_ttl.result)
    assert(Catalog.readView(df, spec(MergeMode.Append, ttl = Some(60000L))).count() == 2)
    // instant ttl: rows never reach scans (ttl/ttl_instant.result)
    assert(Catalog.readView(df, spec(MergeMode.Append, ttl = Some(0L))).count() == 0)
  }

  test("compaction: snapshot+manifest read equals the full merge view, clean scan is window-free") {
    for (mode <- Seq(MergeMode.LastRow, MergeMode.LastNonNull)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_cmp_$mode")
        .toString + "/t"
      val cat = new Catalog(spark)
      val sp = spec(mode).copy(name = s"cmp_$mode", path = dir)
      cat.register(sp)
      raw.write.mode("overwrite").parquet(dir) // batch 1+2 (seq 0/1)
      // compact: rewrite to the merged snapshot (seq kept), stamp manifest
      val snap = Catalog.compactSnapshot(
        spark.read.parquet(dir), sp).collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(snap.toIndexedSeq),
        spark.read.parquet(dir).schema)
        .write.mode("overwrite").parquet(dir)
      Catalog.writeCompactionManifest(spark, dir, 1L)
      // clean steady state: values = merge view, plan has no window
      val clean = cat.read(sp.name)
      assert(!clean.queryExecution.executedPlan.toString.contains("Window"))
      val cleanRows = clean.orderBy($"host", $"ts").collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
      val full = Catalog.readView(raw, sp)
        .orderBy($"host", $"ts").collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
      assert(cleanRows.toSeq == full.toSeq, s"$mode clean")
      // post-compaction append: delta rows must merge against the
      // snapshot; untouched keys pass through un-windowed
      val delta = Seq(("a", 100L, Some(9.0), None.asInstanceOf[Option[String]], 2L))
        .toDF("host", "ts", "f1", "f2", "seq")
      delta.write.mode("append").parquet(dir)
      val merged = cat.read(sp.name).orderBy($"host", $"ts").collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
      val fullAfter = Catalog.readView(raw.unionByName(delta), sp)
        .orderBy($"host", $"ts").collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)), Option(r.get(3))))
      assert(merged.toSeq == fullAfter.toSeq, s"$mode delta")
      // the semantics the equality proves: last_row loses f2 at the
      // re-written key, last_non_null keeps the older non-null
      val aRow = merged.toSeq.find(r => r._1 == "a" && r._2 == 100L).get
      if (mode == MergeMode.LastRow) assert(aRow == ("a", 100L, Some(9.0), None))
      else assert(aRow == ("a", 100L, Some(9.0), Some("x")))
    }
  }
}
