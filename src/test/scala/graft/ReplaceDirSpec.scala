package graft

import java.io.{File, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Catalog
import graft.operators.Similarity
import graft.streaming.Flow

/** Local files under the `faulty` scheme, with one armed fault at a
  * time: the next rename or delete its predicate matches returns false,
  * as a file system that refuses the call does, and the fault disarms. */
class FaultyFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
}) {
  override def getScheme: String = "faulty"
  override def rename(src: Path, dst: Path): Boolean =
    !FaultyFs.trip(FaultyFs.renameFault, (src, dst)) && super.rename(src, dst)
  override def delete(f: Path, recursive: Boolean): Boolean =
    !FaultyFs.trip(FaultyFs.deleteFault, f) && super.delete(f, recursive)
}

object FaultyFs {
  private val renameFault = new java.util.concurrent.atomic.AtomicReference[((Path, Path)) => Boolean]
  private val deleteFault = new java.util.concurrent.atomic.AtomicReference[Path => Boolean]

  private def trip[A](fault: java.util.concurrent.atomic.AtomicReference[A => Boolean], a: A) = {
    val f = fault.get
    f != null && f(a) && fault.compareAndSet(f, null)
  }

  def failRename(p: ((Path, Path)) => Boolean): Unit = renameFault.set(p)
  def failDelete(p: Path => Boolean): Unit = deleteFault.set(p)
  def armed: Boolean = renameFault.get != null || deleteFault.get != null
}

/** [[Catalog.replaceDir]], the one commit of every table and flow-sink
  * rewrite, under injected faults; the commit of driver-sized sidecars;
  * and a guard that keeps hand-written renames out of the engine. */
class ReplaceDirSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = LocalSession(4)
    s.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    s
  }
  import spark.implicits._

  private def faultyDir(name: String): String =
    "faulty://" + Files.createTempDirectory("graft_replace").toString + "/" + name

  private def local(dir: String) = new File(new URI(dir).getPath)

  private def values(dir: String): Seq[Long] =
    spark.read.parquet(dir).as[Long].collect().toSeq.sorted

  private def rewriteTo(dir: String, vs: Long*): Unit =
    Catalog.replaceDir(spark, dir)(vs.toDF("v").write.parquet(_))

  for ((what, fault) <- Seq[(String, ((Path, Path)) => Boolean)](
      "moving the live dir aside" -> (_._2.getName.endsWith("__old")),
      "moving the staged dir in" -> (_._1.getName.endsWith("__staging")))) {
    test(s"a refused rename $what keeps the old rows, and the next rewrite commits") {
      val dir = faultyDir("t")
      rewriteTo(dir, 1L, 2L)
      FaultyFs.failRename(fault)
      val e = intercept[IOException](rewriteTo(dir, 7L))
      assert(!FaultyFs.armed, "the fault never fired")
      assert(e.getMessage.contains(local(dir).getPath), e.getMessage)
      assert(values(dir) == Seq(1L, 2L))
      // no staging dir or aside is left beside the table dir
      assert(local(dir).getParentFile.list().toSeq == Seq("t"))
      rewriteTo(dir, 7L, 8L)
      assert(values(dir) == Seq(7L, 8L))
    }
  }

  test("a partitioned flow sink whose old partition cannot be deleted reads the new rows only") {
    val sink = faultyDir("sink")
    def upsert(rows: (Long, String, Double)*): Unit =
      Flow.upsert(rows.toDF("id", "p", "v"), sink, Seq("id"), Seq("p"))
    upsert((1L, "a", 1.0), (2L, "b", 2.0))
    FaultyFs.failDelete(_.getName.endsWith("__old"))
    upsert((1L, "a", 10.0), (3L, "a", 3.0))
    assert(!FaultyFs.armed, "the fault never fired")
    def rows = spark.read.parquet(sink).as[(Long, Double, String)].collect().toSet
    assert(rows == Set((1L, 10.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "a")))
    // the refused delete left the old partition aside, where no reader looks
    val aside = new File(local(sink), ".p=a__old")
    assert(aside.isDirectory)
    // the next swap of that partition clears it
    upsert((4L, "a", 4.0))
    assert(!aside.exists)
    assert(rows == Set((1L, 10.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "a"), (4L, 4.0, "a")))
  }

  test("a truncated IVF centroid sidecar throws on reload instead of reading fewer centroids") {
    val dir = Files.createTempDirectory("graft_ivf").toString + "/index"
    val corpus = (0L until 24L).map(i =>
      (i, (0 until 4).map(j => math.sin(i * 4.0 + j).toFloat))).toDF("id", "vec")
    Similarity.ivfIndexWrite(corpus, "vec", "id", 4, dir)
    assert(Similarity.ivfIndexRead(spark, dir)._2.length == 4)
    val sidecar = Paths.get(dir, "centroids")
    val lines = new String(Files.readAllBytes(sidecar), UTF_8).split("\n")
    // two whole centroid lines and no trailer: each line still parses
    Files.write(sidecar, lines.take(2).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.deleteIfExists(Paths.get(dir, ".centroids.crc"))
    val e = intercept[IOException](Similarity.ivfIndexRead(spark, dir))
    assert(e.getMessage.contains("entry-count trailer"), e.getMessage)
  }

  test("no file under src/main but Catalog.scala and Copy.scala renames a path") {
    val rename = "." + "rename("
    val allowed = Set(Paths.get("graft", "model", "Catalog.scala"),
      Paths.get("graft", "sources", "Copy.scala"))
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"no src/main/scala under ${main.toAbsolutePath}")
    val walk = Files.walk(main)
    val offenders =
      try walk.iterator.asScala.filter { p =>
        Files.isRegularFile(p) && !allowed.contains(main.relativize(p)) &&
          new String(Files.readAllBytes(p), UTF_8).contains(rename)
      }.toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"commit dir rewrites with Catalog.replaceDir, not a hand-written $rename: " +
        offenders.mkString(", "))
  }
}
