package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.sql.GraftSession

/** What a workload runs against: the Spark session, the seed, and the
  * timing and tracing hooks every engine call goes through. */
final class Env(val spark: SparkSession, val seed: Long, val tracer: Tracer) {

  /** Per-kind step latencies of the timed ops (ms). */
  val kinds: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var recording = false

  /** Rows returned to the client by traced ops. */
  var rowsReturned = 0L

  /** Read paths seen by traced reads of merge-mode tables. */
  val readPaths: mutable.Map[String, Int] = mutable.Map("clean" -> 0, "delta" -> 0, "full" -> 0)

  /** Times one engine step under `kind` (kept only for timed ops). */
  def step[A](kind: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally if (recording)
      kinds.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
  }

  /** One statement through the SQL entry point, its frame collected. */
  def sql(g: GraftSession, kind: String, stmt: String): Array[Row] = step(kind) {
    val df = tracer.span("frame", kind)(g.sql(stmt))
    collect(df, kind)
  }

  def collect(df: DataFrame, kind: String): Array[Row] = {
    val rows = tracer.span("collect", kind)(df.collect())
    if (tracer.on) { tracer.planPhases(df); rowsReturned += rows.length }
    rows
  }

  /** Which merge path the next `reads` reads of the table at `path`
    * take, decided from outside the engine (and outside the timed op):
    * the compaction manifest against the listing. */
  def observeReads(path: String, reads: Int = 1): Unit = if (tracer.on) {
    val listing = Disk.dataFiles(new java.io.File(path)).map(_.getName).toSet
    val kind = graft.model.Catalog.readCompactionManifest(spark, path) match {
      case Some((_, files)) if files == listing => "clean"
      case Some(_) => "delta"
      case None => "full"
    }
    readPaths(kind) += reads
  }
}

/** Outcome of one op: items it served and output-check mismatches. */
final case class OpResult(items: Long, mismatches: Seq[String])

/** Times the parts of one op. The op proper is timed by [[op]]; steps
  * scheduled after it (an upsert's read-after-write and compaction)
  * by [[extra]]. Each call is one root span of the trace. Output checks
  * run outside both, so they are not timed. */
final class OpTimer(tracer: Tracer) {
  var opMs = 0.0
  var extraMs = 0.0
  private def timed(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.span("op", name)(body)
    (System.nanoTime() - t0) / 1e6
  }
  def op(body: => Unit): Unit = opMs += timed("op")(body)
  def extra(kind: String)(body: => Unit): Unit = extraMs += timed(kind)(body)
}

/** A benchmark workload. `setup` builds fresh state in `dir`; op `i`
  * runs through the engine and checks its outputs; the timed loop only
  * stops at a multiple of `cycle` ops, so periodic background steps
  * (compaction) weigh the same in every run. */
trait Workload {
  def setup(dir: java.io.File): Unit
  def warmupOps: Int
  def cycle: Int = 1
  /** Runs op `i`, its engine calls inside `t.op` / `t.extra`. */
  def op(i: Int, t: OpTimer): OpResult
  /** End-of-run output checks. */
  def finish(): Seq[String]
  /** Bytes on disk and live rows (or indexed docs) of the stored state. */
  def stored: (Long, Long)
  def dataFiles: Long
  def itemUnit: String
}

object Disk {
  def files(dir: java.io.File): Seq[java.io.File] =
    if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).map(_.toSeq.flatMap(files)).getOrElse(Nil)

  /** Files a scan reads (no `_`/`.`-prefixed metadata or checksums). */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    files(dir).filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))

  def bytes(dir: java.io.File): Long = files(dir).map(_.length).sum

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
